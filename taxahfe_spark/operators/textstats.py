"""Text analysis operators: quality stats, heuristic language ID, token
counting, document fingerprinting. Pure built-in expressions — every column
is JVM-side and whole-stage-codegen'd; no Python in the hot path."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxahfe_spark.tokens import words

STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for", "was", "with", "on", "as", "are", "this"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "den", "von", "zu", "im", "sich", "des"],
    "fr": ["le", "la", "les", "et", "des", "est", "un", "une", "dans", "que", "pour", "qui", "sur", "pas", "au"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "en", "que", "por", "con", "del", "se", "no"],
}


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality statistics + a composite [0,1] quality score.

    Heuristics follow the public web-corpus filtering literature (length,
    symbol ratios, stopword density, repetition).
    """
    t = F.col(text_col)
    dw = words(df, text_col)
    n_chars = F.length(t)
    n_words = F.size("words")
    safe_chars = F.greatest(n_chars, F.lit(1))
    safe_words = F.greatest(n_words, F.lit(1))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", ""))
    n_upper = F.length(F.regexp_replace(t, r"[^A-Z]", ""))
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    out = dw.select(
        "*",
        n_chars.alias("n_chars_"),
        n_words.alias("n_words"),
        (n_chars / safe_words).alias("mean_word_len"),
        (n_alpha / safe_chars).alias("alpha_ratio"),
        (n_digit / safe_chars).alias("digit_ratio"),
        (n_punct / safe_chars).alias("punct_ratio"),
        (n_upper / safe_chars).alias("upper_ratio"),
        (F.size(F.array_intersect("words", sw)) / F.lit(float(len(STOPWORDS["en"]))))
        .alias("stopword_coverage"),
        (F.size(F.array_distinct("words")) / safe_words).alias("unique_word_ratio"),
    ).drop("words")
    quality = (
        F.least(F.col("n_words") / F.lit(20.0), F.lit(1.0)) * 0.25
        + F.col("alpha_ratio") * 0.25
        + (F.lit(1.0) - F.least(F.col("digit_ratio") * 4, F.lit(1.0))) * 0.15
        + F.col("stopword_coverage") * 0.15
        + F.col("unique_word_ratio") * 0.20
    )
    return out.withColumn("quality_score", F.round(quality, 6))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: stopword-list hit counts per language, argmax
    (ties -> lexicographically first language; no hits -> 'unknown')."""
    dw = words(df, text_col)
    hits = [
        F.size(
            F.array_intersect("words", F.array([F.lit(w) for w in wl]))
        ).alias(f"hits_{lang}")
        for lang, wl in sorted(STOPWORDS.items())
    ]
    scored = dw.select("*", *hits)
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"hits_{la}") for la in langs])
    pred = F.lit("unknown")
    for la in reversed(langs):  # earlier langs win ties -> apply in reverse
        pred = F.when((F.col(f"hits_{la}") == best) & (best > 0), F.lit(la)).otherwise(pred)
    return scored.withColumn("lang_pred", pred).drop("words")


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token-count features: whitespace words, BPE-ish subword estimate
    (alnum runs + symbols), chars-per-token."""
    t = F.col(text_col)
    dw = words(df, text_col)
    n_words = F.size("words")
    # BPE-ish proxy: count alnum runs plus non-space symbols (public rule of
    # thumb ~4 chars/token for English)
    bpe_units = F.size(
        F.filter(F.split(t, r"(?<=\W)|(?=\W)"), lambda s: F.trim(s) != "")
    )
    return dw.select(
        "*",
        n_words.alias("n_words"),
        bpe_units.alias("n_bpe_units"),
        F.ceil(F.length(t) / F.lit(4.0)).cast("long").alias("n_tok_est4"),
    ).drop("words")


def _word_ngrams(df: DataFrame, id_cols: list[str], text_col: str, n: int):
    """Distinct word n-grams per row (space-joined), built-ins only. Texts
    shorter than n words contribute their full word sequence as one gram;
    zero-word texts contribute NO grams (a slice of an empty array is '',
    and an empty-string gram would make every empty doc "match" an empty
    benchmark doc with contamination 1.0) — the same convention as
    ngram_jaccard_pairs / the DuckDB oracles."""
    return (
        words(df, text_col)
        .filter(F.size("words") > 0)
        .select(
            *id_cols,
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.size("words") - n + 1, F.lit(1))
                    ),
                    lambda i: F.array_join(F.slice("words", i, n), " "),
                )
            ).alias("ng"),
        )
        .distinct()
    )


def contamination_score(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_broadcast_max: int = 5_000_000,
) -> DataFrame:
    """Benchmark decontamination: per-document fraction of distinct word
    n-grams that appear anywhere in a benchmark/eval corpus —
    (id, n_ngrams, n_matched, contamination). Filter on ``contamination``
    to quarantine train documents that leak eval data. Zero-word documents
    have no n-grams and get no output row (see _word_ngrams).

    Scale shape: the benchmark n-gram set is aggregated and broadcast
    (benchmarks are bounded by definition — an eval suite is MBs, the
    training corpus is the 100 TB side), so the training side pays one
    n-gram explode + a broadcast LEFT SEMI probe and one groupBy(id):
    no shuffle carries document text, and the corpus is scanned once.
    Above ``bench_broadcast_max`` distinct benchmark grams (someone passed
    a corpus, not a benchmark) the probe falls back to a shuffle semi join
    keyed on xxhash64(gram) — the exchange then carries (id, 8-byte key)
    pairs only, never gram strings or text, at a ~2^-64-per-pair false-match
    risk documented here instead of an un-guarded driver OOM.
    """
    bench_text_col = bench_text_col or text_col
    bench_ng = _word_ngrams(benchmark, [], bench_text_col, n).distinct().persist()
    doc_ng = _word_ngrams(docs, [id_col], text_col, n)
    totals = doc_ng.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_ngrams"))
    if bench_ng.count() <= bench_broadcast_max:
        probed = doc_ng.join(F.broadcast(bench_ng), "ng", "left_semi")
    else:
        probed = (
            doc_ng.withColumn("__g", F.xxhash64("ng"))
            .select(id_col, "__g")
            .join(
                bench_ng.select(F.xxhash64("ng").alias("__g")).distinct(),
                "__g",
                "left_semi",
            )
        )
    matched = probed.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_matched"))
    return (
        totals.join(matched, id_col, "left")
        .na.fill({"n_matched": 0})
        .select(
            id_col,
            "n_ngrams",
            "n_matched",
            F.round(F.col("n_matched") / F.col("n_ngrams"), 6).alias(
                "contamination"
            ),
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Per-document intra-repetition signals — the Gopher/MassiveText
    repetition filters (Rae et al. 2021 §A1.1) re-expressed over word
    n-grams: (id, n_words, dup_word_frac, dup_ngram_frac, top_ngram_share).

    dup_word_frac   = 1 - distinct_words / n_words (repeated-token mass)
    dup_ngram_frac  = 1 - distinct_ngrams / n_ngrams (boilerplate loops)
    top_ngram_share = occurrences of the most frequent n-gram / n_ngrams
    (Gopher cuts docs with top-2-gram share > 0.20, dup-word > 0.30.)

    All fractions round(6) so value hashes are engine-stable. Docs with
    zero words are dropped (no signal to filter on); docs with fewer than
    n words have one degenerate "gram" (the whole word sequence) so the
    fractions stay defined — same convention as _word_ngrams' short-text
    branch, mirrored in the oracle.

    Scale shape: ONE explode to the n-gram stream carrying (id, 8-byte
    xxhash64 gram key) — never gram strings — then a two-level map-side-
    combined aggregation (count per (id, gram), then max/sum/count per id)
    plus a words-level aggregate computed WITHOUT a second scan of the
    corpus: n_words and distinct-word counts ride the same exploded frame
    keyed by the unigram hash. Whole-stage codegen end to end; no Python.
    """
    dw = words(df, text_col).filter(F.size("words") > 0)
    grams = dw.select(
        id_col,
        F.size("words").alias("__nw"),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size("words") - n + 1, F.lit(1))
                ),
                lambda i: F.xxhash64(F.array_join(F.slice("words", i, n), " ")),
            )
        ).alias("__g"),
    )
    per_gram = grams.groupBy(id_col, "__nw", "__g").agg(
        F.count(F.lit(1)).alias("__c")
    )
    gram_agg = per_gram.groupBy(id_col, "__nw").agg(
        F.sum("__c").alias("__ng"),
        F.count(F.lit(1)).alias("__ndist"),
        F.max("__c").alias("__top"),
    )
    uni = (
        dw.select(id_col, F.explode("words").alias("__w"))
        .groupBy(id_col)
        .agg(F.count_distinct("__w").alias("__wdist"))
    )
    return (
        gram_agg.join(uni, id_col)
        .select(
            id_col,
            F.col("__nw").cast("long").alias("n_words"),
            F.round(1 - F.col("__wdist") / F.col("__nw"), 6).alias(
                "dup_word_frac"
            ),
            F.round(1 - F.col("__ndist") / F.col("__ng"), 6).alias(
                "dup_ngram_frac"
            ),
            F.round(F.col("__top") / F.col("__ng"), 6).alias("top_ngram_share"),
        )
    )


# PII patterns chosen to mean the same thing to Spark (Java regex) and
# DuckDB (RE2): no backrefs, no lookaround, ASCII classes only.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    out_col: str = "text_scrubbed",
) -> DataFrame:
    """Redact PII-shaped spans (emails, URLs, phone numbers, IPv4) to
    ``<KIND>`` placeholders — the pre-training scrub pass every public
    web-corpus pipeline runs (C4 removes pages, CCNet/RefinedWeb redact
    in place; this is the redact-in-place form).

    Pure ``regexp_replace`` chain + per-kind match counts: whole-stage
    codegen, no UDF, no shuffle — a 100 TB scan-only pass. Patterns avoid
    engine-specific regex features so the DuckDB oracle replays them
    verbatim (driver query ``pii_scrub_docs``). Counts are emitted per
    kind (``n_<kind>``) so downstream policy can drop documents whose PII
    density is too high instead of keeping the scrubbed husk.
    """
    patterns = patterns if patterns is not None else PII_PATTERNS
    out = df
    scrubbed = F.col(text_col)
    for kind in sorted(patterns):
        pat = patterns[kind]
        # count BEFORE redaction on the original column, so kinds whose
        # patterns could overlap placeholders stay independent
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.split(F.col(text_col), pat)) - 1,
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind.upper()}>")
    return out.withColumn(out_col, scrubbed)


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_ratio: float = 0.70,
    min_stopword_hits: int = 2,
    max_dup_word_frac: float = 0.30,
) -> DataFrame:
    """Gopher/MassiveText-style document filter: the published rule set
    (Rae et al. 2021 Table A1, simplified to the text features this engine
    computes) as ONE boolean ``keep`` plus a ``reject_reasons`` array so
    corpus reports can attribute losses per rule.

    Composition of text_stats + repetition word fractions — built-ins
    only, one scan, no shuffle. Thresholds are parameters with the
    published defaults; the driver oracle replays the whole rule chain in
    SQL (``gopher_rules_docs``).
    """
    dw = words(df, text_col)
    n_words = F.size("words")
    safe_words = F.greatest(n_words, F.lit(1))
    # Zero-word documents (punctuation-only text) get mean_wl == 0.0, so
    # 'mean_word_len_out_of_range' fires alongside 'too_few_words' — an
    # explicit contract the SQL oracle mirrors via coalesce(sum, 0.0)
    # (DuckDB's list_aggregate([], 'sum') is NULL, which would otherwise
    # silently drop the rule on exactly those rows).
    mean_wl = (
        F.aggregate(
            "words", F.lit(0).cast("double"), lambda a, w: a + F.length(w)
        )
        / safe_words
    )
    alpha_ratio = (
        F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
        / F.greatest(F.length(F.col(text_col)), F.lit(1))
    )
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect("words", sw))
    dup_word_frac = F.lit(1.0) - F.size(F.array_distinct("words")) / safe_words

    rules = [
        ("too_few_words", n_words < min_words),
        ("too_many_words", n_words > max_words),
        ("mean_word_len_out_of_range",
         (mean_wl < min_mean_word_len) | (mean_wl > max_mean_word_len)),
        ("low_alpha_ratio", alpha_ratio < min_alpha_ratio),
        ("too_few_stopwords", stop_hits < min_stopword_hits),
        ("high_dup_word_frac", dup_word_frac > max_dup_word_frac),
    ]
    reasons = F.filter(
        F.array(*[F.when(cond, F.lit(name)).otherwise(F.lit(None)) for name, cond in rules]),
        lambda x: x.isNotNull(),
    )
    return (
        dw.withColumn("reject_reasons", reasons)
        .withColumn("keep", F.size("reject_reasons") == 0)
        .drop("words")
    )
