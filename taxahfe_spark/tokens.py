"""Tokenized-sequence layer: the graft's authoritative input shape
(doc_id:string, tokens:array<int32>, n_tok:int32, source:string) and the
operators that generalize taxaHFE's abundance vectors to token statistics.

The mapping (SURVEY.md §7.1): "sample" -> entity x timestamp, "feature
abundance vector" -> per-taxon token counts rolled up a broadcast taxonomy
over token ids, "metadata label" -> point-in-time joined label table.

Because only LEAVES are observed in token space (a token maps to exactly one
leaf clade per snapshot), the full multi-level rollup collapses to ONE
ancestor-prefix explode + ONE groupBy — no observed-wins arbitration
needed. taxonomy.hierarchical_rollup adds that arbitration (observed rows
feed only the missing ancestors below their first observed one) for when
mid-level rows can be observed (the microbiome CSV case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from taxahfe_spark import session
from taxahfe_spark.taxonomy import explode_ancestors

# ASCII-only split so word boundaries are engine-independent (the same
# pattern means the same thing to Spark, DuckDB, and Python re)
TOKEN_RE = r"[^a-z0-9]+"

# Rank gates (session.driver_side) of _running_total's callers: up to this
# many rows, one task's window; above it, the chunked window.
VOCAB_RANK_MAX_ROWS = 1 << 18  # build_vocab, remap_tokens
DOC_RANK_MAX_ROWS = 1 << 16  # epoch_shuffle (so holdout_split), pack_sequences
# monotone chunks: a word's or md5 key's first chars (256 md5 chunks), a
# string doc id's first chars, and the token id's high bits (<= 2^16 chunks
# of <= 2^16 int32 ids)
PREFIX_CHARS = 2
DOC_ID_PREFIX_CHARS = 6
TOKEN_ID_CHUNK_BITS = 16


def _running_total(
    df: DataFrame,
    order: list,
    chunk: F.Column,
    limit: int,
    keys: list[str] | tuple = (),
    weight: str | None = None,
) -> DataFrame:
    """``df`` plus ``__before``: the sum of ``weight`` (a bigint row count
    when ``None``) over the rows strictly before each row, within ``keys``
    and in ``order`` (ascending, nulls first).

    ``chunk`` must be monotone in ``order``, so each chunk's start is the
    sum of the chunks before it. One job collects the per-(keys, chunk)
    totals. Up to ``limit`` rows (``session.driver_side``) one window per
    key group does the rest; above it the chunk offsets join as a broadcast
    local frame (null-safe, a null chunk first) and the window partitions
    by ``keys + chunk``. Both branches agree on every row when ``order`` is
    total.
    """
    keys = list(keys)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    if weight is not None:
        aggs.append(F.sum(weight).alias("__sum"))
    per_chunk = df.groupBy(*keys, chunk.alias("__chunk")).agg(*aggs)
    stats = per_chunk.collect()

    def before(w: Window) -> F.Column:
        if weight is None:
            return (F.row_number().over(w) - 1).cast("long")
        frame = w.rowsBetween(Window.unboundedPreceding, -1)
        return F.coalesce(F.sum(weight).over(frame), F.lit(0))

    if session.driver_side(sum(r["__rows"] for r in stats), limit):
        # bounded-by-construction unpartitioned window: the gate proves at
        # most ``limit`` rows reach it
        return df.withColumn(
            "__before", before(Window.partitionBy(*keys).orderBy(*order))
        )
    amount = "__rows" if weight is None else "__sum"
    acc: dict = {}
    offsets = []
    for r in sorted(stats, key=lambda r: (r["__chunk"] is not None, r["__chunk"])):
        g = tuple(r[k] for k in keys)
        offsets.append((*g, r["__chunk"], acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + (r[amount] or 0)
    cols = keys + ["__chunk"]
    names = [f"__o{i}" for i in range(len(cols))]
    off_schema = per_chunk.select(
        *[F.col(c).alias(n) for c, n in zip(cols, names)], F.col(amount).alias("__off")
    ).schema
    off = F.broadcast(session.local_frame(df.sparkSession, offsets, off_schema))
    chunked = df.withColumn("__chunk", chunk)
    w = Window.partitionBy(*cols).orderBy(*order)
    return (
        chunked.join(off, [chunked[c].eqNullSafe(off[n]) for c, n in zip(cols, names)])
        .withColumn("__before", F.col("__off") + before(w))
        .drop("__chunk", "__off", *names)
    )


def words(df: DataFrame, text_col: str = "text", pattern: str = TOKEN_RE) -> DataFrame:
    """text -> words array (lowercased, non-alnum delimited, empties dropped)."""
    arr = F.split(F.lower(F.col(text_col)), pattern)
    return df.withColumn("words", F.filter(arr, lambda w: w != ""))


def build_vocab(df_words: DataFrame) -> DataFrame:
    """Deterministic vocabulary (word -> token_id int32, dense 0-based by
    lexicographic word order). Engine-independent: any system sorting the
    same distinct words assigns the same ids (used by the DuckDB oracle).

    Scale shape (:func:`_running_total`): above ``VOCAB_RANK_MAX_ROWS``
    ids, words are ranked within their ``PREFIX_CHARS``-char prefix
    (parallel windows) and offset by the per-prefix counts. A string's
    first chars dominate lexicographic order, so the prefix is a monotone
    chunk and the ids equal a global sort's, at web-corpus vocab sizes
    (10^8 distinct words over ~10^3 prefixes). Below it one task's window
    costs less than the prefix shuffle + join; both give identical ids.
    """
    # the distinct-words shuffle feeds BOTH the prefix-count decision and the
    # ranking (and, via tokenize, repeated broadcast rebuilds): cache it.
    # Vocab-sized by definition — the one frame worth pinning.
    distinct = (
        df_words.select(F.explode("words").alias("word")).distinct().persist()
    )
    ranked = _running_total(
        distinct, ["word"], F.substring("word", 1, PREFIX_CHARS), VOCAB_RANK_MAX_ROWS
    )
    return ranked.select("word", F.col("__before").cast("int").alias("token_id"))


def tokenize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: DataFrame | None = None,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """documents -> tokenized sequences (doc_id, tokens array<int32>, n_tok,
    + extra_cols). Token order preserves word order (posexplode + array_sort
    on (pos, id) pairs — no UDF)."""
    dw = words(df, text_col)
    vocab = vocab or build_vocab(dw)
    exploded = dw.select(
        id_col, *(extra_cols or []), F.posexplode("words").alias("pos", "word")
    )
    joined = exploded.join(F.broadcast(vocab), "word", "inner")
    return (
        joined.groupBy(id_col, *(extra_cols or []))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("token_id")))
            ).alias("_pt")
        )
        .select(
            id_col,
            *(extra_cols or []),
            F.transform("_pt", lambda s: s["token_id"]).alias("tokens"),
            F.size("_pt").cast("int").alias("n_tok"),
        )
    )


def dedup_sequences(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup over pre-tokenized sequences — the north-rule input shape
    (doc_id, tokens array<int32>, ...). Keeps the min-id row per DISTINCT
    token array.

    Scale shape (10^12 sequences): phase 1 aggregates on xxhash64(tokens)
    only, so the first exchange carries 8-byte keys, never arrays. The
    REPEATED-hash set (true duplicates + a negligible collision set) is what
    gets materialized — it is small whenever the duplicate fraction is
    modest, so unique rows are kept IN PLACE via a broadcast anti join
    (zero array movement, no corpus-sized shuffle), and only rows in
    repeated-hash groups are re-partitioned for the phase-2 full-array
    tie-break — so the result is EXACT even under 64-bit hash collisions,
    unlike plain hash-keyed dedup (exact_dedup documents that trade the
    other way). When the dup-hash set exceeds
    ``session.BROADCAST_MAX_ROWS`` rows (an extreme-duplication corpus
    where the dup universe is itself corpus-scale), the joins fall back to
    shuffles — unavoidable there,
    and the guard makes the regime switch explicit instead of OOMing the
    driver. The source is scanned three times (counts pass, anti-join keep
    pass, semi-join dup pass): scans parallelize linearly at 100 TB,
    shuffles of array payloads do not — that is the intended trade, and the
    dup-hash frame (the only thing reused across all three) is pinned.
    """
    keyed = df.withColumn("__h", F.xxhash64(F.col(tokens_col)))
    dup_hashes = (
        keyed.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select("__h")
        .persist()
    )
    small = dup_hashes.count() <= session.BROADCAST_MAX_ROWS
    right = F.broadcast(dup_hashes) if small else dup_hashes
    uniq = keyed.join(right, "__h", "left_anti")
    dup = keyed.join(right, "__h", "left_semi")
    w = Window.partitionBy("__h", tokens_col).orderBy(F.col(id_col).asc())
    kept_dup = (
        dup.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return uniq.unionByName(kept_dup).drop("__h")


def substring_dedup(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Duplicated-substring removal over pre-tokenized sequences: drop every
    token position covered by a length-``k`` token window that occurs MORE
    THAN ONCE anywhere in the corpus (cross-doc or repeated within one doc).
    The distributed analog of suffix-array exact-substring training-data
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better") for a Spark pipeline: instead of one global suffix
    array, every doc emits its k-gram WINDOW HASHES and globally repeated
    windows mark their spans for removal. Returns
    (id_col, tokens_clean array, n_tok_clean int, n_removed int).

    Semantics pinned for the oracle: a window starting at 0-based position
    p covers [p, p+k); a position covered by ANY repeated window is
    removed; docs shorter than k tokens have no windows and pass through
    unchanged. Repeated means total corpus occurrence count > 1, which
    includes a doc that repeats its own phrase — self-plagiarized spans are
    exactly what the reference paper removes too.

    Scale shape (10^12 sequences): the exchanged gram stream is
    (id, pos, xxhash64) — 8-byte hashes, never token arrays — and the
    groupBy count is map-side combined. The repeated-hash set is
    duplication-sized; up to ``session.BROADCAST_MAX_ROWS`` rows it
    broadcasts and the per-doc hit probe is shuffle-free, above it the semi
    join falls back to a hash-key shuffle (still array-free). Arrays move exactly
    once: through the final Arrow mask stage, which is the output writer.
    Collision honesty: a 64-bit collision can mark a span as spuriously
    repeated (removing ~k good tokens); at 10^12 windows that is ~1e5
    spurious spans corpus-wide — noise for a cleaning pipeline, and the
    trade the hash-grouped plan makes for never shuffling arrays (the
    collision-exact alternative re-verifies slices inside repeated-hash
    groups like dedup_sequences phase 2; per-window that re-shuffles k
    tokens per hit, pointless at this error rate).

    The one place arrays CAN shuffle is the final doc-level join of token
    arrays against their per-doc start lists: when the dup-affected doc set
    is small, AQE converts it to a broadcast join at runtime (starts is an
    aggregated frame whose size is only known post-shuffle — exactly the
    case adaptive planning exists for); in a heavy-duplication corpus the
    co-locating shuffle is the honest cost, the same single array sort the
    suffix-array formulation pays.
    """
    n = F.size(tokens_col)
    grams = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.when(
                n >= k,
                F.sequence(F.lit(0), n - k),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("__p"),
        F.col(tokens_col),
    ).select(
        "__id", "__p", F.xxhash64(F.slice(tokens_col, F.col("__p") + 1, k)).alias("__gh")
    )
    dup_hashes = (
        grams.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select("__gh")
        .persist()
    )
    small = dup_hashes.count() <= session.BROADCAST_MAX_ROWS
    right = F.broadcast(dup_hashes) if small else dup_hashes
    starts = (
        grams.join(right, "__gh", "left_semi")
        .groupBy("__id")
        .agg(F.sort_array(F.collect_set("__p")).alias("__starts"))
    )
    joined = df.select(F.col(id_col).alias("__id"), tokens_col).join(
        starts, "__id", "left"
    )

    out_schema = T.StructType(
        [
            T.StructField(id_col, joined.schema["__id"].dataType),
            T.StructField("tokens_clean", T.ArrayType(T.IntegerType())),
            T.StructField("n_tok_clean", T.IntegerType()),
            T.StructField("n_removed", T.IntegerType()),
        ]
    )

    def _mask(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, cleans, n_cleans, n_rm = [], [], [], []
            for _id, toks, st in zip(
                pdf["__id"], pdf[tokens_col], pdf["__starts"]
            ):
                toks = np.asarray(toks, dtype=np.int64)
                if st is None or len(st) == 0:
                    clean = toks
                else:
                    st = np.asarray(st, dtype=np.int64)
                    # O(n + m) coverage via start/stop deltas + cumsum —
                    # never the O(n*m) array_contains probe a pure-built-in
                    # plan would pay on heavily duplicated docs
                    delta = np.zeros(len(toks) + 1, dtype=np.int64)
                    np.add.at(delta, st, 1)
                    np.add.at(delta, np.minimum(st + k, len(toks)), -1)
                    covered = np.cumsum(delta[: len(toks)]) > 0
                    clean = toks[~covered]
                ids.append(_id)
                cleans.append(clean.astype(np.int32))
                n_cleans.append(len(clean))
                n_rm.append(len(toks) - len(clean))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "tokens_clean": cleans,
                    "n_tok_clean": pd.array(n_cleans, dtype="int32"),
                    "n_removed": pd.array(n_rm, dtype="int32"),
                }
            )

    return joined.mapInPandas(_mask, schema=out_schema)


def unigram_logprob(
    seqs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unigram-LM document scoring over pre-tokenized sequences: fit token
    frequencies on the corpus itself, then score each doc by its mean token
    log-probability — the classic cheap perplexity proxy for quality
    filtering (low mean_logp = rare-token soup, boilerplate-free natural
    text sits in a predictable band). Returns
    (id_col, n_tok long, mean_logp double).

    Plan shape: one explode + map-side-combined count for the frequency
    table (vocab-sized output), then the per-token logp lookup joins
    TOKEN IDS ONLY (8-byte rows, never arrays) against the broadcast
    frequency table, and one groupBy re-aggregates per doc. Vocabularies
    are bounded by the tokenizer (10^5-10^6 ids) so the broadcast regime is
    the normal one; above ``session.BROADCAST_MAX_ROWS`` distinct ids the join
    falls back to a shuffle on token_id. Empty docs emit no token rows and
    are absent from the output — mirroring the contamination_score
    convention that zero-content docs produce no score row.
    """
    tok = seqs.select(F.col(id_col).alias("__id"), F.explode(tokens_col).alias("__t"))
    freq = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__c")).persist()
    total = freq.agg(F.sum("__c")).collect()[0][0] or 0
    small = freq.count() <= session.BROADCAST_MAX_ROWS
    right = F.broadcast(freq) if small else freq
    scored = tok.join(right, "__t", "inner").withColumn(
        "__logp", F.log(F.col("__c") / F.lit(float(total)))
    )
    return (
        scored.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.round(F.avg("__logp"), 6).alias("mean_logp"),
        )
        .select(F.col("__id").alias(id_col), "n_tok", "mean_logp")
    )


def token_count_rollup_stream(
    tok: DataFrame,
    taxonomy: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "token_id",
    relative: bool = False,
) -> DataFrame:
    """Per-document taxon counts from an already-exploded token stream.

    tok: (id_col, token_col); taxonomy: (token_col, clade_path) — broadcast.
    The counting core of :func:`token_count_rollup` without the
    array-assembly round trip: callers that already hold the exploded
    stream (e.g. a word stream joined to a word-keyed taxonomy) skip
    collect_list + array_sort + re-explode entirely — the rollup's output
    is a pure function of the token MULTISET per document, so order
    assembly is wasted work on this path (guide: don't compute what you
    throw away). ``token_col`` may be any joinable type (int token ids,
    raw words, ...).
    """
    leaf = tok.join(F.broadcast(taxonomy), token_col, "inner")
    anc = explode_ancestors(
        leaf.select(id_col, F.col("clade_path").alias("path")), "path"
    )
    counts = (
        anc.groupBy(
            F.col(id_col).alias("entity_id"),
            F.col("anc_path").alias("path"),
            F.col("anc_level").alias("level"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    if relative:
        w = Window.partitionBy("entity_id", "level")
        counts = counts.withColumn("value", F.col("value") / F.sum("value").over(w))
    return counts.select("path", "level", "entity_id", "value")


def token_count_rollup(
    seqs: DataFrame,
    taxonomy: DataFrame,
    id_col: str = "doc_id",
    relative: bool = False,
) -> DataFrame:
    """Per-document taxon counts at EVERY taxonomy level.

    seqs: (doc_id, tokens array<int>); taxonomy: (token_id, clade_path) —
    broadcast (taxonomies are <=1e5 rows even at 10^12 sequences).

    Plan shape: explode(tokens) -> broadcast join -> ancestor explode ->
    one map-side-combined groupBy. A single shuffle keyed by (doc, path);
    output is the long abundance frame the HFE competition consumes.
    """
    # respread the NARROW sequence frame BEFORE the ~n_tok x explode: a
    # one-partition input would serialize the broadcast join + ancestor
    # explode on one task, while repartitioning the exploded token stream
    # shuffles n_tok x more bytes (measured 1.5-4x slower both ways); the
    # count groupBy's map-side combine keeps the one real exchange small
    par = seqs.sparkSession.sparkContext.defaultParallelism
    tok = seqs.repartition(par * 2).select(
        id_col, F.explode("tokens").alias("token_id")
    )
    return token_count_rollup_stream(
        tok, taxonomy, id_col=id_col, token_col="token_id", relative=relative
    )


def point_in_time_token_features(
    events: DataFrame,
    snapshots: DataFrame,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    relative: bool = False,
) -> DataFrame:
    """Zero-leakage token rollup against versioned taxonomy snapshots.

    events: (doc_id, ts, tokens array<int>); snapshots: (snapshot_ts,
    token_id, clade_path) — multiple global taxonomy versions.

    Each (doc, ts) row is matched to the latest snapshot with
    snapshot_ts <= ts, then its tokens are rolled up under THAT version's
    paths. Snapshot assignment is a LITERAL-ARRAY as-of probe: the version
    list is tiny by contract, so it is collected once and the backward
    probe (max version <= ts) becomes a pure JVM expression over a literal
    array — the r7 shape routed every event row (token arrays included)
    through a mapInPandas as-of probe whose only inputs were (id, ts),
    paying the Python boundary for columns the probe never read (guide §4:
    pass only what the function needs; here the boundary disappears
    entirely). The fact table is never shuffled for version resolution;
    the only shuffle is the final count groupBy.
    """
    tagged = _snapshot_tag(events, snapshots, ts_col)
    tok = tagged.select(
        id_col, ts_col, "snapshot_ts", F.explode("tokens").alias("token_id")
    )
    return _pit_counts(tok, snapshots, id_col, ts_col, "token_id", relative)


def _snapshot_tag(df, snapshots: DataFrame, ts_col: str) -> DataFrame:
    """Attach snapshot_ts = latest version <= ts as a pure JVM literal-array
    backward probe (the version list is tiny by contract); rows before the
    first version are dropped, like the as-of inner semantics."""
    snap_vals = sorted(
        r["snapshot_ts"]
        for r in snapshots.select("snapshot_ts").distinct().collect()
    )
    snap_arr = F.array(*[F.lit(v) for v in snap_vals])
    return df.withColumn(
        "snapshot_ts",
        F.array_max(F.filter(snap_arr, lambda v: v <= F.col(ts_col))),
    ).filter(F.col("snapshot_ts").isNotNull())


def _pit_counts(
    tok: DataFrame,
    snapshots: DataFrame,
    id_col: str,
    ts_col: str,
    token_col: str,
    relative: bool,
) -> DataFrame:
    """Shared PIT counting tail: version-resolved token stream -> per-(doc,
    ts) ancestor counts. tok must already carry snapshot_ts."""
    leaf = tok.join(F.broadcast(snapshots), ["snapshot_ts", token_col], "inner")
    anc = explode_ancestors(
        leaf.select(id_col, ts_col, F.col("clade_path").alias("path")), "path"
    )
    counts = anc.groupBy(
        id_col, ts_col, F.col("anc_path").alias("path"), F.col("anc_level").alias("level")
    ).agg(F.count(F.lit(1)).cast("double").alias("value"))
    if relative:
        w = Window.partitionBy(id_col, ts_col, "level")
        counts = counts.withColumn("value", F.col("value") / F.sum("value").over(w))
    return counts


def point_in_time_token_features_stream(
    tok: DataFrame,
    snapshots: DataFrame,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    token_col: str = "token_id",
    relative: bool = False,
) -> DataFrame:
    """PIT rollup over an ALREADY-EXPLODED token stream (r8, the
    token_count_rollup_stream idiom applied to the point-in-time operator).

    tok: (id_col, ts_col, token_col); snapshots: (snapshot_ts, token_col,
    clade_path) — broadcast. Same output as
    :func:`point_in_time_token_features` on the assembled sequences: the
    rollup is a pure function of each (doc, ts) row's token MULTISET, so
    callers that hold the exploded stream (e.g. a word stream joined to
    word-keyed snapshots) skip the collect_list + array_sort + re-explode
    round trip entirely. ``token_col`` may be any joinable type (int token
    ids, raw words, ...). The version probe runs per stream row here
    (per event row on the array path) — same tag either way, since
    snapshot_ts is a function of ts alone."""
    tagged = _snapshot_tag(tok, snapshots, ts_col)
    return _pit_counts(tagged, snapshots, id_col, ts_col, token_col, relative)


def sample_by_source(
    df: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: int = 42,
) -> DataFrame:
    """Deterministic proportional downsampling per source — the standard
    training-mix operator (e.g. keep 100% of books, 10% of crawl).

    Hash-ranked within source: the kept set is a pure function of
    (id, seed) — layout-invariant, reproducible, and portable to any engine
    with md5 (the DuckDB oracle replays it bit-for-bit). Sources missing
    from ``rates`` are kept whole.
    """
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))).asc(),
        F.col(id_col).asc(),
    )
    wn = Window.partitionBy(source_col)
    rate = F.lit(1.0)
    for src, r in sorted(rates.items()):
        rate = F.when(F.col(source_col) == src, float(r)).otherwise(rate)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .filter(F.col("__rn") <= F.ceil(F.col("__n") * rate))
        .drop("__rn", "__n")
    )


def temperature_rates(
    df: DataFrame,
    tau: float,
    source_col: str = "source",
    weight_col: str | None = None,
    target_frac: float | None = None,
) -> dict[str, float]:
    """Per-source keep rates for temperature-scaled mixture sampling.

    The multilingual-LM mixing rule (Lample & Conneau 2019; XLM-R): with
    source mass shares q_s, sample sources proportionally to q_s^tau
    (tau < 1 upweights small sources, tau = 1 is natural, tau = 0 uniform).
    Rates are normalized so the MOST-upweighted source is kept whole
    (rate 1.0) — the largest mix achievable without replication — then
    optionally scaled down by ``target_frac``. ``weight_col`` (e.g. n_tok)
    weighs mass by tokens instead of documents; sampling is still per
    document, the standard approximation.

    One groupBy over a source-cardinality frame (sources are bounded by
    definition — dozens, not millions), computed driver-side so the rates
    are plain literals in the downstream sampling plan.
    """
    agg = F.sum(weight_col) if weight_col else F.count(F.lit(1))
    stats = df.groupBy(source_col).agg(agg.alias("__m")).collect()
    mass = {r[source_col]: float(r["__m"]) for r in stats}
    srcs = sorted(mass)  # deterministic summation order (collect order isn't)
    tot = sum(mass[s] for s in srcs)
    p = {s: (mass[s] / tot) ** tau for s in srcs}
    z = sum(p[s] for s in srcs)
    p = {s: v / z for s, v in p.items()}
    budget = min(mass[s] / p[s] for s in srcs)
    if target_frac is not None:
        budget *= target_frac
    # quantize: the discrete keep set must not hinge on summation-order ulps
    # (the SQL oracle's SUM() adds in its own order); 1e-12 >> ulp noise and
    # << any real rate gap
    return {s: round(min(1.0, p[s] * budget / mass[s]), 12) for s in srcs}


def temperature_mix(
    df: DataFrame,
    tau: float,
    id_col: str = "doc_id",
    source_col: str = "source",
    weight_col: str | None = None,
    target_frac: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """Temperature-scaled training-mix sampling: derive per-source rates
    from the corpus's own source masses (``temperature_rates``) and apply
    them with the deterministic md5-ranked sampler (``sample_by_source``).
    The whole chain — mass aggregation, tau-power mix weights, rate
    normalization, hash-ranked keep set — is replayed verbatim by the
    DuckDB oracle (driver query ``temperature_mix_docs``), so the rate
    DERIVATION is value-gated, not just the sampling."""
    rates = temperature_rates(
        df, tau, source_col=source_col, weight_col=weight_col,
        target_frac=target_frac,
    )
    return sample_by_source(
        df, rates, id_col=id_col, source_col=source_col, seed=seed
    )


def pack_sequences(
    seqs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    ntok_col: str = "n_tok",
    group_col: str | None = "source",
) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget bins for
    context-window training batches.

    Chunked cumulative packing: within each group (deterministic id order),
    ``bin = floor(running_tokens_before_doc / budget)`` — expressible
    identically in any SQL engine. Bins fill to >= budget with bounded
    overflow of one document (the streaming-friendly packing approximation
    used when exact first-fit is not worth a sequential pass). Adds ``bin``
    and ``bin_pos``.

    Scale shape (:func:`_running_total`): above ``DOC_RANK_MAX_ROWS`` rows
    the running token sum is NEVER a per-group window — at web scale one
    `crawl` source is the whole corpus, and its window one task. Ids fall
    into MONOTONE chunks (``DOC_ID_PREFIX_CHARS``-char prefixes of string
    ids, approxQuantile-edge buckets of numeric ids), summed in parallel
    windows and lifted by chunk-order token offsets: the same bins exactly.
    The bin_pos window partitions by (group, bin), budget-bounded by
    construction.
    """
    keys = [group_col] if group_col else []
    dtype = dict(seqs.dtypes)[id_col]
    if dtype in ("string", "varchar"):
        chunk = F.substring(F.col(id_col), 1, DOC_ID_PREFIX_CHARS)
    else:
        qs = [i / 64 for i in range(1, 64)]
        edges = sorted(set(seqs.approxQuantile(id_col, qs, 0.001)))
        from functools import reduce

        chunk = reduce(
            lambda acc, e: acc + (F.col(id_col) > F.lit(e)).cast("int"),
            edges,
            F.lit(0),
        )
    out = _running_total(
        seqs, [F.col(id_col).asc()], chunk, DOC_RANK_MAX_ROWS, keys, weight=ntok_col
    ).withColumn("bin", F.floor(F.col("__before") / budget)).drop("__before")
    wb = Window.partitionBy(*keys, "bin").orderBy(F.col(id_col).asc())
    return out.withColumn("bin_pos", F.row_number().over(wb) - 1)


def chunk_sequences(
    seqs: DataFrame,
    max_len: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_len: int = 1,
) -> DataFrame:
    """Split token sequences into fixed-length context windows — the
    chunking pass that turns variable-length documents into training rows
    for a fixed context size. ``stride`` < ``max_len`` yields overlapping
    windows (the eval-perplexity / long-doc idiom); default stride =
    max_len gives disjoint chunks. Tail chunks shorter than ``min_len``
    tokens are dropped (min_len=1 keeps every tail).

    Output: one row per (sequence, chunk): id_col, chunk_id (0-based),
    chunk_off (token offset), chunk (array slice), n_chunk_tok. Windows
    start at every ``offset = k*stride < n_tok`` — no length cap, no
    collect, no UDF: `sequence()` builds the offsets, `posexplode` fans
    them out, `slice()` cuts the arrays. The only data movement is the
    fan-out itself (an in-task generate, not a shuffle); at 10^12 sequences
    the output is written partition-local, and the expansion factor is
    bounded by ceil(n_tok / stride) per row by construction.
    """
    if stride is None:
        stride = max_len
    if stride <= 0 or max_len <= 0:
        raise ValueError(f"max_len and stride must be positive, got {max_len}, {stride}")
    n = F.size(F.col(tokens_col))
    offs = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    out = seqs.select(
        "*", F.posexplode(offs).alias("chunk_id", "chunk_off")
    ).withColumn("chunk", F.slice(F.col(tokens_col), F.col("chunk_off") + 1, max_len))
    out = out.withColumn("n_chunk_tok", F.size("chunk"))
    if min_len > 1:
        out = out.filter(F.col("n_chunk_tok") >= min_len)
    return out.drop(tokens_col)


def epoch_shuffle(
    df: DataFrame,
    seed: int = 42,
    epoch: int = 0,
    id_col: str = "doc_id",
    out_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global training order for one epoch: every row gets a
    dense 0-based bigint position ranked by ``md5(id:seed:epoch)`` — a
    different but reproducible permutation per epoch, a pure function of
    (id, seed, epoch). Layout-invariant and engine-portable (the DuckDB
    oracle replays it with the same md5), so a resumed or re-scheduled run
    reads the same order — the data-order reproducibility contract LLM
    training needs.

    Scale shape (:func:`_running_total`): above ``DOC_RANK_MAX_ROWS`` rows
    there is NO global one-task window: the uniform md5 key's
    ``PREFIX_CHARS``-char prefix splits it into 256 MONOTONE chunks, ranked
    in parallel and offset by a 256-row driver list. Below it the single
    window is cheaper; both give identical positions.
    """
    key = F.md5(
        F.concat_ws(
            ":", F.col(id_col).cast("string"), F.lit(str(seed)), F.lit(str(epoch))
        )
    )
    keyed = df.withColumn("__k", key)
    chunk = F.substring("__k", 1, PREFIX_CHARS)
    order = ["__k", F.col(id_col).asc()]
    ranked = _running_total(keyed, order, chunk, DOC_RANK_MAX_ROWS)
    return ranked.withColumn(out_col, F.col("__before")).drop("__k", "__before")


def incremental_dedup_sequences(
    new: DataFrame,
    corpus: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingestion dedup: keep rows of ``new`` that are exact
    duplicates neither WITHIN the batch nor OF the existing ``corpus`` —
    without ever moving the corpus's arrays.

    Scale shape: the batch first self-dedups (dedup_sequences — min-id per
    distinct array, arrays shuffled only inside repeated-hash groups); the
    cross check then anti-joins the batch against corpus HASHES only
    (8-byte keys: the corpus projects xxhash64(tokens), so 10^12 corpus
    rows contribute one long each and the corpus arrays stay in place).
    Ingestion batches are small relative to the corpus by definition, so
    AQE turns the anti join into a broadcast of the batch side's hashes.

    64-bit cross-check caveat: a hash collision between a new row and an
    unrelated corpus row drops the new row (~|new| x |corpus| / 2^64). The
    WITHIN-batch stage stays collision-exact via dedup_sequences.
    """
    batch = dedup_sequences(new, tokens_col=tokens_col, id_col=id_col)
    corpus_hashes = corpus.select(
        F.xxhash64(F.col(tokens_col)).alias("__h")
    ).distinct()
    keyed = batch.withColumn("__h", F.xxhash64(F.col(tokens_col)))
    return keyed.join(corpus_hashes, "__h", "left_anti").drop("__h")


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group corpus card: the summary table a training-data pipeline
    publishes next to a dataset (docs, chars, distinct-content count, exact
    dup fraction, mean heuristic quality). One scan + one groupBy whose
    cardinality is sources x languages (bounded); dup counting goes
    through xxhash64(normalized text), never the text itself.
    """
    from taxahfe_spark.operators.dedup import normalize_text
    from taxahfe_spark.operators.textstats import text_stats

    group_cols = group_cols if group_cols is not None else ["source", "lang"]
    st = text_stats(docs, text_col).withColumn(
        "__h", F.xxhash64(normalize_text(F.col(text_col)))
    )
    return (
        st.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars_").alias("n_chars"),
            F.sum("n_words").alias("n_words"),
            F.countDistinct("__h").alias("n_distinct"),
            F.round(
                F.lit(1.0) - F.countDistinct("__h") / F.count(F.lit(1)), 6
            ).alias("dup_frac"),
            F.round(F.avg("quality_score"), 6).alias("mean_quality"),
        )
    )


def holdout_split(
    docs: DataFrame,
    frac: float = 0.01,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup-aware eval-holdout creation: sample ~``frac`` of documents as
    the eval set (deterministic md5 rank, layout-invariant), then QUARANTINE
    any remaining document whose normalized content equals an eval
    document's — the split-time form of benchmark decontamination: content
    that leaks across the boundary goes to neither side.

    Adds ``split`` in {'eval','quarantine','train'}. The eval membership is
    a pure function of (id, seed); the quarantine check goes through
    xxhash64(normalized text). The eval-side hash set is broadcast only
    while the eval cut is at most ``session.BROADCAST_MAX_ROWS`` rows
    (k = ceil(n * frac) is known exactly from the sizing count, so the gate
    is free): at
    the 10^9+-doc scale a 1% eval cut is gigabytes, and force-broadcasting
    it would bypass Spark's size-based planning — above the gate the join
    falls back to an explicit shuffle on the 8-byte hash, the same
    fallback convention as exact_dedup.
    Hash-exact: a 64-bit collision quarantines an innocent row (~|eval| x
    |train| / 2^64) — the conservative failure direction for a holdout.
    One count() job sizes the eval cut; ranking is epoch_shuffle's.
    """
    import math

    from taxahfe_spark.operators.dedup import normalize_text

    n = docs.count()
    k = int(math.ceil(n * frac))
    ranked = epoch_shuffle(docs, seed=seed, epoch=0, id_col=id_col, out_col="__pos")
    keyed = ranked.withColumn("__h", F.xxhash64(normalize_text(F.col(text_col))))
    eval_hashes = (
        keyed.filter(F.col("__pos") < k).select(F.col("__h").alias("__eh")).distinct()
    )
    if k <= session.BROADCAST_MAX_ROWS:
        eval_hashes = F.broadcast(eval_hashes)
    marked = keyed.join(
        eval_hashes, keyed["__h"] == eval_hashes["__eh"], "left"
    )
    split = (
        F.when(F.col("__pos") < k, F.lit("eval"))
        .when(F.col("__eh").isNotNull(), F.lit("quarantine"))
        .otherwise(F.lit("train"))
    )
    return marked.withColumn("split", split).drop("__pos", "__h", "__eh")


def allocate_token_budget(
    df: DataFrame,
    budget_tokens: float,
    shares: dict[str, float] | None = None,
    tau: float | None = None,
    source_col: str = "source",
    ntok_col: str = "n_tok",
) -> dict[str, tuple[int, float]]:
    """Hard-token-budget allocation plan: per source, how many FULL epochs
    plus what partial-epoch keep fraction realize that source's share of
    ``budget_tokens`` (the LLaMA-recipe shape, where under-sized
    high-weight sources repeat for multiple epochs while oversized sources
    are subsampled).

    Target shares come from ``shares`` (explicit weights, normalized over
    the sources actually present with positive weight), or ``tau``
    (temperature shares q_s^tau over token mass, as temperature_rates), or
    natural token-mass proportions when both are None (every source then
    gets rate budget/total, zero repeats below total).

    Returns {source: (full_epochs, partial_rate)} with
    full_epochs = floor(alloc_s / mass_s) and partial_rate in [0, 1) chosen
    so expected sampled tokens hit alloc_s exactly: the partial epoch is a
    deterministic doc-level hash cut, token-exact in expectation (n_tok is
    independent of the id hash); exact-token packing is pack_sequences'
    job downstream. partial_rate is rounded to 9 decimals so the plan
    survives engine-to-engine float replay (same discipline as
    temperature_rates).

    One groupBy over a source-cardinality frame, collected driver-side —
    the plan becomes literals in the sampling projection.
    """
    stats = df.groupBy(source_col).agg(F.sum(ntok_col).alias("__m")).collect()
    mass = {r[source_col]: float(r["__m"]) for r in stats if r["__m"]}
    srcs = sorted(mass)
    if not srcs:
        return {}
    tot = sum(mass[s] for s in srcs)
    if shares is not None:
        p = {s: float(shares.get(s, 0.0)) for s in srcs}
    elif tau is not None:
        p = {s: (mass[s] / tot) ** tau for s in srcs}
    else:
        p = {s: mass[s] / tot for s in srcs}
    z = sum(p.values())
    if z <= 0:
        raise ValueError("no source has positive share")
    plan: dict[str, tuple[int, float]] = {}
    for s in srcs:
        alloc = float(budget_tokens) * p[s] / z
        full = int(alloc // mass[s])
        rem = round((alloc - full * mass[s]) / mass[s], 9)
        if rem >= 1.0:  # guard the round-up edge: fold into a full epoch
            full, rem = full + 1, 0.0
        plan[s] = (full, rem)
    return plan


def _hash12_u(id_col: str, seed: int) -> F.Column:
    """First 12 hex chars of md5(id:seed) — a deterministic uniform draw
    with 16^-12 granularity, comparable as a plain string against a
    12-hex-digit threshold in ANY md5-capable engine."""
    return F.substring(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))), 1, 12
    )


def _hex12_threshold(rate: float) -> str:
    return format(int(rate * (16 ** 12)), "012x")


def budget_mix(
    df: DataFrame,
    budget_tokens: float,
    shares: dict[str, float] | None = None,
    tau: float | None = None,
    id_col: str = "doc_id",
    source_col: str = "source",
    ntok_col: str = "n_tok",
    seed: int = 42,
) -> DataFrame:
    """Apply an allocate_token_budget plan: adds ``n_repeats`` (how many
    times this document appears in the training mix; 0 = dropped).

    n_repeats = full_epochs(source) + 1{u(id) < partial_rate(source)} with
    u the md5 12-hex-digit draw — a pure projection over the scan: NO
    window, NO shuffle, layout-invariant, and replayed bit-for-bit by the
    SQL oracle via the same hex-string comparison. Compose with
    ``materialize_epochs`` to expand into per-epoch training rows and
    epoch_shuffle for the global order.
    """
    plan = allocate_token_budget(
        df, budget_tokens, shares=shares, tau=tau,
        source_col=source_col, ntok_col=ntok_col,
    )
    full_col = F.lit(0)
    thr_col = F.lit("000000000000")
    for s, (full, rem) in sorted(plan.items()):
        full_col = F.when(F.col(source_col) == s, full).otherwise(full_col)
        thr_col = F.when(
            F.col(source_col) == s, F.lit(_hex12_threshold(rem))
        ).otherwise(thr_col)
    extra = (_hash12_u(id_col, seed) < thr_col).cast("int")
    return df.withColumn("n_repeats", (full_col + extra).cast("int"))


def stratified_sample_k(
    df: DataFrame,
    k: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """EXACTLY min(k, |stratum|) rows per stratum (vs sample_by_source's
    rate-based expectation): rank rows within each stratum by the
    deterministic md5 12-hex draw of (id, seed) and keep rank <= k — the
    eval-set / few-shot-pool construction primitive where per-bucket counts
    must be exact, not expected.

    One shuffle (the per-stratum rank window, partitioned by stratum — NOT
    a global sort); ties impossible up to md5 collisions, broken by id.
    Deterministic in (id, seed) and partition-layout-invariant; any
    md5-capable engine replays the same cut.
    """
    u = _hash12_u(id_col, seed)
    w = Window.partitionBy(strata_col).orderBy(u.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def remap_tokens(
    seqs: DataFrame,
    min_count: int = 2,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    unk_id: int = 0,
) -> DataFrame:
    """Vocabulary pruning + dense re-id: tokens occurring fewer than
    ``min_count`` times corpus-wide fold to ``unk_id``; surviving tokens
    get NEW dense ids 1..K assigned by ascending OLD id (so any engine
    ranking the same kept set assigns the same ids — the build_vocab
    determinism contract). Returns (id_col, tokens array<int>, n_tok) with
    n_tok preserved (remapping never drops positions).

    Scale shape: the old->new map is vocab-sized by definition and ranked
    like build_vocab's (:func:`_running_total`): one task's window up to
    ``VOCAB_RANK_MAX_ROWS`` kept ids, above it ranks within monotone chunks
    of the old id (``old >> TOKEN_ID_CHUNK_BITS``) plus chunk offsets.
    Arrays are rebuilt by the tokenize idiom — posexplode -> broadcast map
    join -> array_sort((pos, id)) collect — so the only shuffle keys are
    (doc, pos, id) scalars, never arrays.
    """
    tok = seqs.select(F.col(id_col).alias("__id"), F.posexplode(tokens_col).alias("__pos", "__t"))
    counts = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    kept = counts.filter(F.col("__c") >= min_count).select("__t").persist()
    chunk = F.shiftright("__t", TOKEN_ID_CHUNK_BITS)
    ranked = _running_total(kept, ["__t"], chunk, VOCAB_RANK_MAX_ROWS)
    idmap = ranked.select("__t", (F.col("__before") + 1).cast("int").alias("__new"))
    remapped = tok.join(F.broadcast(idmap), "__t", "left").withColumn(
        "__new", F.coalesce("__new", F.lit(unk_id).cast("int"))
    )
    return (
        remapped.groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col("__new")))
            ).alias("_pt")
        )
        .select(
            F.col("__id").alias(id_col),
            F.transform("_pt", lambda s: s["__new"]).alias(tokens_col),
            F.size("_pt").cast("int").alias("n_tok"),
        )
    )


def cms_token_counts(
    seqs: DataFrame,
    width: int = 1 << 12,
    depth: int = 4,
    tokens_col: str = "tokens",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Count-min-sketch token frequencies: estimate every distinct token's
    corpus count from a depth x width counter grid instead of a
    vocab-sized exact table. Returns (token_id int, est_count long) with
    the CMS guarantee est_count >= exact count (overestimates only, from
    bucket collisions).

    Why at 10^12 sequences: the sketch state is depth*width counters —
    KILOBYTES, independent of vocabulary size — built by ONE map-side-
    combinable groupBy over the exploded (lane, bucket) stream; it is the
    mergeable-across-partitions / across-days summary structure (stream
    batches union into the same grid by simple addition). The estimation
    join probes the broadcast grid. ``hash_fn='md5'`` swaps xxhash64 for
    the engine-portable md5_hash60 lane so a SQL oracle replays every
    bucket id and minimum bit-for-bit (the minhash_signatures idiom).
    """
    from taxahfe_spark.operators.dedup import md5_hash60

    tok = seqs.select(F.explode(tokens_col).alias("__t"))
    lanes = tok.select(
        "__t", F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("__lane")
    )
    key = F.concat_ws(":", F.col("__lane").cast("string"), F.col("__t").cast("string"))
    if hash_fn == "md5":
        bucket = F.pmod(md5_hash60(key), F.lit(width))
    else:
        bucket = F.pmod(F.xxhash64(key), F.lit(width))
    cells = (
        lanes.withColumn("__b", bucket)
        .groupBy("__lane", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    probes = tok.distinct().select(
        "__t", F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("__lane")
    ).withColumn("__b", bucket)
    return (
        probes.join(F.broadcast(cells), ["__lane", "__b"], "inner")
        .groupBy("__t")
        .agg(F.min("__c").alias("est_count"))
        .select(F.col("__t").alias("token_id"), "est_count")
    )


def materialize_epochs(
    mixed: DataFrame,
    repeats_col: str = "n_repeats",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Expand a budget_mix plan into actual training rows: one row per
    (document, epoch) with epoch in [1, n_repeats]. In-task generate
    (posexplode of a sequence) — no shuffle; rows with 0 repeats vanish."""
    return (
        mixed.filter(F.col(repeats_col) > 0)
        .withColumn(
            epoch_col,
            F.explode(F.sequence(F.lit(1), F.col(repeats_col))),
        )
    )
