"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, fingerprinting.

Everything is built-in Catalyst expressions (split/filter/regexp/md5) —
zero Python in the row path, so these run inside whole-stage codegen and
cost one scan regardless of how many measures are selected. Each helper
returns a Column so callers compose them into ONE projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from mds_provider_spark.operators.dedup import norm_text, tokens
from mds_provider_spark.session import map_rows

# pack_token_budget id-space span per packer stream; see the guard there
_PACK_IDX_SPAN = 1_000_000_000

# Marker stopwords per language — tiny n-gram-free heuristic. Real
# pipelines plug in fastText/CLD3; the operator shape (argmax over
# per-language evidence counts, computed in one projection) is the point.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans"],
}
PUNCT_RE = r"[.,!?;:]"
STOPWORDS_EN = LANG_MARKERS["en"]


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


# GPT-2-style pre-tokenization shape: letter runs | digit runs | single
# symbols. Pure alternation — no lookaround — so the SAME pattern runs
# identically under Java regex (Spark) and RE2 (DuckDB/Trino audits).
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish count: letter runs, digit runs, and individual
    symbols — a cheap engine-portable regex proxy for BPE token counts."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_RE), F.lit(0)))


def _marker_hits(col: Column | str, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens(col), lambda x: F.array_contains(arr, x)))


def lang_scores(col: Column | str) -> dict[str, Column]:
    return {lang: _marker_hits(col, m) for lang, m in LANG_MARKERS.items()}


def lang_id(col: Column | str) -> Column:
    """Argmax language by marker-hit count; deterministic tiebreak by the
    fixed language order; 'und' (undetermined) when no marker hits."""
    scores = lang_scores(col)
    langs = list(LANG_MARKERS)
    best_score = F.greatest(*[scores[lang] for lang in langs])
    out = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties
        out = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(out)
    return F.when(best_score > 0, out).otherwise(F.lit("und"))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    n_punct = n - F.length(F.regexp_replace(c, PUNCT_RE, ""))
    return F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    n = token_count(col)
    hits = _marker_hits(col, stopwords or STOPWORDS_EN)
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def mean_word_len(col: Column | str) -> Column:
    t = tokens(col)
    total = F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    return F.when(F.size(t) > 0, total / F.size(t)).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Heuristic [0,1] quality: enough words, sane word lengths, some
    stopwords, not punctuation soup. Deterministic double arithmetic."""
    n_words = token_count(col).cast("double")
    length_term = F.least(n_words / F.lit(20.0), F.lit(1.0))
    wl = mean_word_len(col)
    wordlen_term = F.when((wl >= 2.0) & (wl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    stop_term = F.least(stopword_ratio(col) * F.lit(5.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * F.lit(4.0), F.lit(1.0))
    return F.round(
        length_term * 0.4 + wordlen_term * 0.2 + stop_term * 0.2 + punct_term * 0.2, 6
    )


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 over the normalized form (engine-portable)."""
    return F.md5(norm_text(col))


def winnowing_fingerprints(
    col: Column | str, k: int = 5, window: int = 4, portable: bool = False
) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    k-gram rolling hashes, min per sliding window, distinct. Pure
    Catalyst: character k-grams via substring over a sequence.

    ``portable=True`` hashes k-grams with an md5 fold (first 8 hex chars
    as bigint) instead of xxhash64 — byte-identical in DuckDB/Trino, so
    the fingerprint sets can be audited cross-engine (the oracle path);
    the default xxhash64 stays for speed inside Spark-only pipelines."""
    c = norm_text(col)
    n = F.length(c)
    starts = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    if portable:
        hash_of = lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    else:
        hash_of = F.xxhash64
    kgram_hashes = F.transform(starts, lambda i: hash_of(F.substring(c, i, k)))
    m = F.size(kgram_hashes)
    win_starts = F.sequence(F.lit(1), F.greatest(m - F.lit(window - 1), F.lit(1)))
    mins = F.transform(win_starts, lambda i: F.array_min(F.slice(kgram_hashes, i, window)))
    return F.array_sort(F.array_distinct(mins))


def winnowing_fingerprint_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    portable: bool = False,
) -> DataFrame:
    """(id, fingerprint) rows — the SCALABLE winnowing form.

    The single-Column ``winnowing_fingerprints`` embeds the k-gram hash
    array inside the window expression; higher-order functions are
    excluded from subexpression elimination, so every window re-derives
    the whole array — O(len^2) hashes per document (measured 48 s for
    50 docs with md5). This form MATERIALIZES the hash array as a
    column between two projections, making windowing reference a bound
    attribute: O(len) hashes, one scan, no shuffle."""
    c = norm_text(text_col)
    n = F.length(c)
    starts = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    if portable:
        hash_of = lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    else:
        hash_of = F.xxhash64
    step = df.select(
        F.col(id_col),
        F.transform(starts, lambda i: hash_of(F.substring(c, i, k))).alias("_hs"),
    )
    m = F.size(F.col("_hs"))
    win_starts = F.sequence(F.lit(1), F.greatest(m - F.lit(window - 1), F.lit(1)))
    mins = F.transform(
        win_starts, lambda j: F.array_min(F.slice(F.col("_hs"), j, window))
    )
    return step.select(
        F.col(id_col),
        F.explode(F.array_sort(F.array_distinct(mins))).alias("fingerprint"),
    )


def _md5_bucket(id_col: str | Column, salt: str, mod: int) -> Column:
    """Engine-portable deterministic bucket — the ONE routing expression
    every reproducible-membership feature shares (sampling, stratified
    mixing, packer streams). DuckDB/Trino replay:
    ``('0x' || substr(md5(id || salt), 1, 4))::BIGINT % mod``."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % mod
    )


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Benchmark decontamination: (train_id, bench_id, n_shared) for
    training docs sharing >= ``min_shared`` distinct winnowing
    fingerprints with a benchmark doc — the standard pre-training hygiene
    check (winnowing guarantees any shared substring of length
    k+window-1 produces a shared fingerprint, so verbatim benchmark
    leakage cannot hide).

    Scale shape: both sides are fingerprinted in ONE scan each; the join
    key is the fingerprint hash. The bench side is tiny relative to a
    10^12-row corpus (benchmark suites are 10^3-10^5 docs), so AQE
    broadcasts it and the training table is NEVER shuffled; the grouped
    count is candidate-proportional. No forced broadcast hint — a
    pathologically large "bench" side falls back to a shuffled join
    instead of an OOM."""
    bid = bench_id_col or id_col
    btx = bench_text_col or text_col
    tf = winnowing_fingerprint_rows(
        train, id_col, text_col, k, window, portable
    ).withColumnRenamed(id_col, "train_id")
    bf = winnowing_fingerprint_rows(
        bench, bid, btx, k, window, portable
    ).withColumnRenamed(bid, "bench_id")
    return (
        tf.join(bf, "fingerprint")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def pack_token_budget(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int,
    n_packers: int = 32,
    salt: str = "",
    token_count_col: str | None = None,
) -> DataFrame:
    """Deterministic distributed sequence packing (the concat-then-chunk
    style of pre-training batch construction): returns
    (id, n_tokens, packer, pack_id).

    Docs are routed to one of ``n_packers`` independent packer streams
    by an md5 bucket of their id (a pure function — the same packing
    under any partitioning, engine, or resume), each stream concatenates
    its docs in id order, and a doc's pack is the ``budget``-token
    window containing its FIRST token (running-total window ->
    ``floor((cumsum - n_tokens) / budget)``). The window partitions by
    packer, so parallelism = n_packers with no global sort; at 10^12
    rows raise n_packers to the cluster width (packing quality is
    per-stream and independent of stream count). Token measure is the
    engine-portable BPE-ish regex by default, so the identical
    md5/cumsum/floor replays in DuckDB/Trino for audits.

    Tokenizer-faithful mode: pass ``token_count_col`` naming a
    PRECOMPUTED per-doc token count (a real tokenizer's counts,
    materialized upstream — tokenizers are not engine-portable, their
    counts are) and the same md5-routed packer runs on those numbers
    instead of the regex estimate. NULL or negative counts violate the
    precomputed-column contract and raise inside codegen (loud, never
    a silently mispacked batch).
    """
    bucket = _md5_bucket(id_col, salt, n_packers)
    if token_count_col is None:
        ntok = bpe_ish_token_count(text_col).cast("long")
    else:
        c = F.col(token_count_col).cast("long")
        ntok = F.when(c.isNotNull() & (c >= 0), c).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "pack_token_budget: NULL or negative token count "
                        f"in {token_count_col!r} for id "
                    ),
                    F.col(id_col).cast("string"),
                )
            )
        )
    step = df.select(
        F.col(id_col),
        ntok.alias("n_tokens"),
        bucket.alias("packer"),
    )
    w = (
        Window.partitionBy("packer")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    # pack_id = packer * 1e9 + per-stream pack index. 1e9 packs/stream
    # bounds each stream at budget*1e9 tokens (4e12 at the 4096 default
    # — a full 10^12-row corpus routed over n_packers streams stays far
    # under it, but a misconfigured n_packers=1 run would not), so the
    # index is GUARDED: overflow raises inside codegen instead of
    # silently aliasing into the next packer's id space.
    pack_idx = F.floor((cum - F.col("n_tokens")) / budget)
    guarded_idx = F.when(pack_idx < F.lit(_PACK_IDX_SPAN), pack_idx).otherwise(
        F.raise_error(
            F.concat(
                F.lit("pack_token_budget: per-stream pack index overflow (>= "),
                F.lit(str(_PACK_IDX_SPAN)),
                F.lit("); raise n_packers so streams stay under budget*1e9 tokens"),
            )
        )
    )
    return step.select(
        id_col,
        "n_tokens",
        "packer",
        (F.col("packer") * F.lit(_PACK_IDX_SPAN) + guarded_idx)
        .cast("long")
        .alias("pack_id"),
    )


def length_histogram(
    df: DataFrame, text_col: str, bucket_chars: int = 100
) -> DataFrame:
    """Document-length distribution: rows per fixed-width char bucket.
    The curation dashboard staple; one partial+final hash agg."""
    bucket = F.floor(F.length(F.col(text_col)) / bucket_chars).cast("long")
    return (
        df.where(F.col(text_col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select((F.col("bucket") * bucket_chars).alias("min_chars"), "n_docs")
    )


def deterministic_sample(
    df: DataFrame, id_col: str, percent: int, salt: str = ""
) -> DataFrame:
    """Reproducible, engine-portable sampling: keep rows whose
    md5(id||salt) bucket (mod 100) falls below ``percent``.

    Unlike ``df.sample()`` (partition-count-dependent RNG), membership is
    a pure function of the id — the same subset everywhere, forever:
    resumable pipelines, cross-system comparisons, A/B splits (use
    disjoint percent ranges via salt). md5 keeps it reproducible in any
    engine (same expression runs in DuckDB/Trino for audits).
    """
    return df.where(_md5_bucket(id_col, salt, 100) < percent)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, int],
    default_percent: int = 0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing staple
    (e.g. keep 100% of rare languages, 10% of English). Same md5-bucket
    membership as ``deterministic_sample``: a pure function of the id,
    so the mix is reproducible across engines, partitionings, and
    resumed runs; per-stratum rates come from ONE case expression, no
    per-stratum scans or unions."""
    bucket = _md5_bucket(id_col, salt, 100)
    pct = F.lit(default_percent)
    for value, percent in sorted(fractions.items()):
        pct = F.when(F.col(strata_col) == value, F.lit(percent)).otherwise(pct)
    return df.where(bucket < pct)


def text_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One projection with every text measure — single scan."""
    return df.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        char_count(text_col).alias("n_chars"),
        bpe_ish_token_count(text_col).alias("n_subtokens"),
        lang_id(text_col).alias("lang_pred"),
        F.round(punct_ratio(text_col), 6).alias("punct_ratio"),
        F.round(stopword_ratio(text_col), 6).alias("stopword_ratio"),
        F.round(mean_word_len(text_col), 6).alias("mean_word_len"),
        quality_score(text_col).alias("quality_score"),
        fingerprint(text_col).alias("fingerprint"),
    )


# ----------------------------------------------- within-doc repetition

def ngram_array(tokens_col: Column, n: int) -> Column:
    """Word n-grams of a BOUND token-array column (space-joined strings).

    Takes a materialized column, not a raw expression, on purpose:
    higher-order functions are excluded from subexpression elimination,
    so embedding the tokenizer inside the per-window lambda would
    re-derive the whole token array per window — the same O(len^2) trap
    measured and documented at ``winnowing_fingerprint_rows``."""
    m = F.size(tokens_col)
    return F.when(
        m >= n,
        F.transform(
            F.sequence(F.lit(1), m - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(tokens_col, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_profile(
    df: DataFrame, id_col: str, text_col: str, ns: tuple = (2, 3)
) -> DataFrame:
    """Within-document repetition ratios — the looping-text quality
    signal large-corpus curation filters on (the duplicate-n-gram
    fraction used by public web-corpus quality pipelines): for each n,
    1 - distinct_ngrams/total_ngrams (0.0 for docs shorter than n
    words). Three chained projections (tokens -> n-gram arrays ->
    ratios) so each HOF references a bound attribute — one scan, no
    shuffle, no Python; CollapseProject keeps expensive multiply-
    referenced arrays materialized instead of inlining them."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    grams = toks.select(
        F.col(id_col),
        *[ngram_array(F.col("_t"), n).alias(f"_g{n}") for n in ns],
    )
    out = [F.col(id_col)]
    for n in ns:
        g = F.col(f"_g{n}")
        total = F.size(g)
        out.append(
            F.when(
                total > 0,
                F.round(
                    (total - F.size(F.array_distinct(g)))
                    / total.cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias(f"dup{n}gram_ratio")
        )
    return grams.select(*out)


# ------------------------------------------------------------ PII scrub

# Engine-portable patterns: constructs in the common subset of Java
# regex (Spark) and RE2 (DuckDB/Trino), so the identical redaction
# replays in the oracle engine. Deliberately conservative, high-
# precision patterns — a scrub pass wants no false redactions; plug
# broader recognizers in the same dict shape.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "intl_phone": r"\+\d{1,3}[ -]\d{2,4}(?:[ -]\d{2,4}){1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ssn_like": r"\b\d{3}-\d{2}-\d{4}\b",
}

# Card-shaped digit runs (16 digits, optional per-group ' '/'-'
# separators). Candidates are only REDACTED when they pass the Luhn
# checksum below — a shape-only match on e.g. a random order number
# would be a false redaction, exactly what a precision scrub avoids.
CREDIT_CARD_PATTERN = r"\b\d{4}(?:[ -]?\d{4}){3}\b"


def luhn_valid(candidate: Column) -> Column:
    """Luhn checksum as pure Catalyst arithmetic — no Python, no UDF.

    Strips ' '/'-' separators, then folds the digit string right-to-left
    doubling every second digit (mod-9 correction), and tests sum % 10.
    Runs inside higher-order functions (sequence/aggregate), so it is
    evaluated only for the card-shaped candidates a row actually has.
    """
    ds = F.regexp_replace(candidate, F.lit("[ -]"), F.lit(""))
    n = F.length(ds)

    def _step(acc: Column, i: Column) -> Column:
        d = ds.substr(i, F.lit(1)).cast("int")
        doubled = d * 2
        return acc + (
            F.when((n - i) % 2 == 1,
                   F.when(doubled > 9, doubled - 9).otherwise(doubled))
            .otherwise(d)
        )

    return (F.aggregate(F.sequence(F.lit(1), n), F.lit(0), _step) % 10) == 0


def redact_pii(
    df: DataFrame,
    text_col: str,
    patterns: dict[str, str] | None = None,
    token: str = "[REDACTED-{kind}]",
    credit_cards: bool = True,
    gate: bool = True,
) -> DataFrame:
    """Curation-staple PII scrub in one Catalyst projection — no Python,
    no shuffle, scan-proportional at any scale.

    Semantics (unchanged from the per-pattern chain this fuses):
    per-kind counts are measured against the ORIGINAL text, so
    overlapping kinds each report their own matches; replacement applies
    patterns in sorted-name order so output is deterministic.

    Fusion: with ``gate=True`` (default) every row is first tested with
    ONE combined-alternation scan. Rows with no PII anywhere — the vast
    majority of a real corpus — pay exactly that one regex pass and skip
    the whole per-kind chain (Catalyst's CaseWhen evaluates branches
    lazily per row, verified in the gated-vs-ungated equality test).
    Previously every row paid 2 passes per pattern kind; now the
    expected cost is ~1 pass/row + the chain only on PII-bearing rows,
    so adding recognizers no longer taxes clean rows at all.

    ``credit_cards=True`` additionally redacts 16-digit card-shaped runs
    that pass the Luhn checksum (``luhn_valid`` — Catalyst arithmetic,
    no UDF): candidates come from one ``regexp_extract_all``, Luhn-valid
    ones are counted (``n_credit_card``) and replaced literally via
    ``aggregate``+``replace``, so a Luhn-failing lookalike is left
    untouched. Card redaction happens before the pattern chain.
    """
    patterns = dict(PII_PATTERNS if patterns is None else patterns)
    text = F.col(text_col)

    gate_parts = [patterns[k] for k in sorted(patterns)]
    if credit_cards:
        gate_parts.append(CREDIT_CARD_PATTERN)
    combined = "|".join(f"(?:{p})" for p in gate_parts)
    # NULL text rlike -> NULL, which falls through when()'s otherwise
    # branch exactly like the clean-row path; nulls stay null below.
    has_pii = text.rlike(combined) if gate else F.lit(True)

    def _count(expr: Column) -> Column:
        cnt = F.when(text.isNull(), F.lit(None).cast("long"))
        if gate:
            # NULL has_pii (only when text is NULL) is already caught above
            cnt = cnt.when(~has_pii, F.lit(0).cast("long"))
        return cnt.otherwise(expr.cast("long"))

    out = df
    redacted = text
    if credit_cards:
        cards = F.filter(
            F.regexp_extract_all(text, F.lit(CREDIT_CARD_PATTERN), F.lit(0)),
            luhn_valid,
        )
        out = out.withColumn("n_credit_card", _count(F.size(cards)))
        redacted = F.aggregate(
            cards,
            redacted,
            lambda acc, c: F.replace(
                acc, c, F.lit(token.format(kind="credit_card"))
            ),
        )
    for kind in sorted(patterns):
        out = out.withColumn(
            f"n_{kind}",
            _count(F.size(
                F.regexp_extract_all(text, F.lit(patterns[kind]), F.lit(0))
            )),
        )
        redacted = F.regexp_replace(
            redacted, patterns[kind], token.format(kind=kind)
        )
    if gate:
        redacted = F.when(has_pii, redacted).otherwise(text)
    return out.withColumn(f"{text_col}_redacted", redacted)


# --------------------------------------------------- chunking / cleaning

# Cleaning patterns are deliberately capture-group-free: Java regex
# replacement syntax ($1) and RE2's (\1) disagree, so any rule that
# needs a backreference would fork engine behavior. These don't.
CLEAN_PATTERNS = {
    "html_tag": r"<[^>]+>",
    "url": r"https?://[^\s]+",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
}


def clean_text(df: DataFrame, text_col: str) -> DataFrame:
    """Boilerplate scrub (the curation step before quality scoring):
    strip HTML tags, URLs, and emails, collapse whitespace runs, trim.
    One Catalyst projection — no Python, no shuffle; per-kind counts
    are measured against the ORIGINAL text (the PII-scrub discipline)
    so removals are auditable. Engine-portable: every pattern is
    RE2-safe and capture-free, replacements are literal — DuckDB/Trino
    replay the chain for byte-identical output (the oracle compares
    md5 of the cleaned column).

    Order matters and is fixed: tags -> urls -> emails -> whitespace
    (a URL inside an anchor tag is gone with the tag; counts still see
    it because they run on the original). Adds ``n_<kind>`` counters
    and ``<text_col>_clean``; NULL text stays NULL.
    """
    text = F.col(text_col)
    out = df
    for kind in sorted(CLEAN_PATTERNS):
        out = out.withColumn(
            f"n_{kind}",
            F.when(text.isNull(), F.lit(None).cast("long")).otherwise(
                F.size(
                    F.regexp_extract_all(text, F.lit(CLEAN_PATTERNS[kind]), 0)
                ).cast("long")
            ),
        )
    cleaned = text
    for kind in ("html_tag", "url", "email"):
        cleaned = F.regexp_replace(cleaned, CLEAN_PATTERNS[kind], " ")
    cleaned = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    return out.withColumn(f"{text_col}_clean", cleaned)


def chunk_fixed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 500,
    overlap: int = 100,
) -> DataFrame:
    """Fixed-window document chunking with overlap — the RAG/embedding
    prep shape: one row in, ``n`` chunk rows out, where
    ``n = 1 + max(ceil((len - size) / stride), 0)`` and
    ``stride = size - overlap``. The last chunk may be shorter; every
    character is covered; chunk boundaries are pure arithmetic on the
    char length, so any SQL engine reproduces the exact same windows
    (``substr`` is 1-based in both Spark and DuckDB/Trino).

    Catalyst-only: sequence() + explode — the fan-out happens inside
    the scan stage, no shuffle, no Python. NULL/empty docs yield no
    chunks (a chunk of nothing poisons downstream embedding batches).
    """
    if overlap >= size:
        raise ValueError(f"overlap {overlap} must be < size {size}")
    stride = size - overlap
    text = F.col(text_col)
    n = (
        F.lit(1)
        + F.greatest(
            F.ceil((F.length(text) - F.lit(size)) / F.lit(stride)), F.lit(0)
        )
    ).cast("int")
    return (
        df.where(text.isNotNull() & (F.length(text) > 0))
        .select(
            F.col(id_col),
            text.alias("_t"),
            F.explode(F.sequence(F.lit(0), n - F.lit(1))).alias("chunk_idx"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.substring(
                F.col("_t"), F.lit(1) + F.col("chunk_idx") * F.lit(stride), size
            ).alias("chunk"),
        )
    )


def paragraph_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Explode documents into (id, para_idx, para, norm) paragraph rows.

    Paragraph = maximal run split on blank lines (``\\n{2,}``); ``norm``
    is the dedup key (lowercase, whitespace collapsed, trimmed) while
    ``para`` keeps the original bytes for rewriting. Blank paragraphs
    are dropped. Catalyst-only (split + posexplode inside the scan
    stage, no shuffle); engine-portable — DuckDB replays the split with
    ``regexp_split_to_array`` + a lateral ``generate_series``.
    """
    return (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), r"\n{2,}")).alias(
                "para_idx", "para"
            ),
        )
        .withColumn(
            "norm",
            F.trim(F.regexp_replace(F.lower(F.col("para")), r"\s+", " ")),
        )
        .where(F.col("norm") != "")
    )


def paragraph_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Paragraph-level EXACT substring dedup with keep-first-occurrence
    rewrite — the training-data dedup mode motivated by Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better", public),
    approximated at paragraph granularity: a paragraph that occurs in
    many documents (boilerplate, license headers, navigation chrome)
    survives ONLY at its first occurrence ``(min doc_id, min para_idx)``
    and is cut everywhere else, including repeats within one document.

    100 TB shape — aggregate + join, NOT a window: keep-first needs the
    global min occurrence per normalized paragraph. A ``row_number``
    window over ``norm`` cannot split a hot key (one boilerplate
    paragraph repeated 10^9 times lands on one task), so the winner is
    computed as ``min(struct(doc_id, para_idx))`` — partial/merge
    hash aggregation, map-side combinable, skew-immune — and every
    paragraph row is keep-FLAGGED by an equi-join on ``norm`` that AQE
    skew-split CAN divide (the winner agg's hashpartitioning(norm) is
    reused by the join's left side — no extra exchange). ONE doc-level
    group-by then produces the rewrite AND both counters, so the
    exploded paragraphs are scanned twice total (winner pass + tag
    pass), with no third scan for pre-dedup counts, no driver collects,
    no caps needed.

    Returns one row per surviving document: (id, text_dedup, n_paras,
    n_kept) — ``n_paras`` counts the doc's non-blank paragraphs before
    dedup. Documents losing every paragraph disappear from the output
    (callers wanting them keep a left join on the input). The rewrite
    joins surviving ORIGINAL paragraphs in order with a blank line.
    """
    paras = paragraph_rows(df, id_col, text_col)
    winners = paras.groupBy("norm").agg(
        F.min(F.struct(F.col(id_col), F.col("para_idx"))).alias("_w")
    )
    tagged = paras.join(winners, "norm").withColumn(
        "_kept",
        (F.col(id_col) == F.col(f"_w.{id_col}"))
        & (F.col("para_idx") == F.col("_w.para_idx")),
    )
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("_kept").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    # collect_list skips the NULLs the when() leaves for
                    # dropped paragraphs
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_kept"),
                                F.struct("para_idx", "para"),
                            )
                        )
                    ),
                    lambda s: s["para"],
                ),
                "\n\n",
            ).alias("text_dedup"),
        )
        .where(F.col("n_kept") > 0)
        .select(id_col, "text_dedup", "n_paras", "n_kept")
    )


def compression_ratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio per document — the classic cheap quality /
    repetition screen (highly compressible text is boilerplate or loops;
    nearly-incompressible "text" is usually binary junk or ciphertext).
    Complements ``repetition_profile`` (n-gram view) with a whole-
    document information-density view.

    One ``session.map_rows`` pass (zlib is not expressible in Catalyst);
    only (id, text) cross the pipe, one pass, no shuffle. DETERMINISTIC
    by construction: zlib output depends only on (bytes, level) — same
    ratio on every executor, every retry, every platform zlib (the
    compressed LENGTH at a fixed level is stable for CPython's bundled
    zlib; the oracle replays through the identical function driver-side,
    so even a platform delta would be caught, not masked).

    Output: (id, n_raw_bytes, n_compressed_bytes, ratio) with ratio =
    compressed/raw rounded to 6 (empty text -> ratio 1.0 by convention;
    NULL text is skipped — absence is the rule layer's finding). The id
    keeps its own type, and NULL ids are kept.
    """
    import zlib

    def per_row(i, t):
        if t is None:
            return ()
        b = str(t).encode("utf-8")
        c = len(zlib.compress(b, level)) if b else 0
        return [(i, len(b), c, round(c / len(b), 6) if b else 1.0)]

    schema = (
        f"id {dict(df.dtypes)[id_col]}, n_raw_bytes long, "
        "n_compressed_bytes long, ratio double"
    )
    return map_rows(df, [id_col, text_col], per_row, schema).withColumnRenamed("id", id_col)


def split_assign(
    id_col: str | Column,
    boundaries: dict[str, int] | None = None,
    salt: str = "split",
) -> Column:
    """Deterministic train/val/test assignment: md5-bucket of the id
    against cumulative percentage boundaries (default 80/10/10). Pure
    function of the id — the same split everywhere, forever, any
    engine (the sampling discipline of ``deterministic_sample``)."""
    boundaries = boundaries or {"train": 80, "val": 90, "test": 100}
    b = _md5_bucket(id_col, salt, 100)
    out = None
    for name, hi in sorted(boundaries.items(), key=lambda kv: kv[1]):
        cond = b < F.lit(hi)
        out = F.when(cond, F.lit(name)) if out is None else out.when(cond, F.lit(name))
    return out


def split_leakage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    boundaries: dict[str, int] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Cross-split leakage detector — the eval-integrity check every
    training pipeline needs: content whose fingerprint appears in MORE
    than one split (duplicate or near-verbatim text straddling
    train/test silently inflates eval scores). Splits are assigned by
    ``split_assign`` (id-hash), fingerprints by the normalized-text md5
    the exact-dedup path uses, so batch dedup and leakage agree on what
    "same content" means.

    One scan + one fingerprint-keyed aggregate (count distinct splits
    is a partial/merge agg). Output: (fingerprint, n_splits, n_docs)
    for fingerprints spanning >1 split. At 100 TB this is exactly the
    exact-dedup shuffle — the leak check rides the same bucketing.
    """
    tagged = df.where(F.col(text_col).isNotNull()).select(
        fingerprint(text_col).alias("fingerprint"),
        split_assign(id_col, boundaries, salt).alias("split"),
    )
    return (
        tagged.groupBy("fingerprint")
        .agg(
            F.count_distinct("split").cast("long").alias("n_splits"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .where(F.col("n_splits") > 1)
    )


def group_split_assign(
    df: DataFrame,
    id_col: str,
    text_col: str,
    boundaries: dict[str, int] | None = None,
    salt: str = "split",
    groups: DataFrame | None = None,
    group_col: str = "group_id",
) -> DataFrame:
    """Leak-PROOF split routing — the repair to what ``split_leakage``
    detects: every duplicate group lands wholly in ONE split, because
    the routing hash is taken over the group's exemplar id (min id in
    the group — the dedup exemplar discipline), not the row's own id.

    Default grouping is the exact normalized-text fingerprint, the same
    "same content" notion batch dedup and split_leakage use — so
    ``split_leakage``-style leaks over the output are empty BY
    CONSTRUCTION. Pass ``groups`` (``id_col`` → ``group_col``, e.g.
    ``dedup.resolve_duplicate_groups`` output) to route by a NEAR-dup
    resolver instead: the whole minhash/fingerprint component then
    shares one split. Ungrouped rows (NULL text, or ids absent from
    ``groups``) route by their own id — identical to ``split_assign``.
    ``groups`` MUST map each id to exactly one group — a duplicate id
    mapping would duplicate corpus rows through the join
    (resolve_duplicate_groups guarantees uniqueness; its star-forest
    termination test exists for precisely this property).

    Scale shape: one fingerprint-keyed aggregate (partial/merge min)
    plus one equi-join back — exactly the exact-dedup shuffle, reused.
    A 10^9-copy boilerplate key skews the join back; that is the AQE
    skew-split case (plain equi-join), same as paragraph_dedup. Output
    = input columns + ``split``.
    """
    if groups is None:
        keyed = df.withColumn("_grp", fingerprint(text_col))
    else:
        keyed = df.join(
            groups.select(id_col, F.col(group_col).alias("_grp")),
            id_col,
            "left",
        )
    exemplars = (
        keyed.where(F.col("_grp").isNotNull())
        .groupBy("_grp")
        .agg(F.min(id_col).alias("_exemplar"))
    )
    routed = keyed.join(exemplars, "_grp", "left")
    return routed.withColumn(
        "split",
        split_assign(
            F.coalesce(F.col("_exemplar"), F.col(id_col)), boundaries, salt
        ),
    ).drop("_grp", "_exemplar")


def mix_sample(
    df: DataFrame,
    domain_col: str,
    fractions: dict[str, float],
    id_col: str,
    default_fraction: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic DOMAIN-WEIGHTED corpus mix — the training-data
    composition step ("50% en, all of zh, a quarter of es"): each row
    survives iff its id-hash bucket falls under its domain's fraction.

    Pure filter, ZERO shuffle, zero state: membership is a function of
    (id, salt) alone, so the same mix reproduces everywhere, forever,
    in any engine — and re-running over a grown corpus keeps every
    previously selected row (append-stable, unlike rand()-based
    sampling). Domains absent from ``fractions`` get
    ``default_fraction``.

    Granularity is 1e-6 with a ≤0.03% relative modulo bias (2^32 % 1e6
    buckets; the SAME rows are biased in every engine, so oracles
    replay exactly). DuckDB/Trino replay:
    ``('0x' || substr(md5(id || salt), 1, 8))::BIGINT % 1000000``.
    """
    for d, f in fractions.items():
        if not (0.0 <= f <= 1.0):
            raise ValueError(f"fraction for {d!r} must be in [0,1], got {f}")
    if not (0.0 <= default_fraction <= 1.0):
        raise ValueError(f"default_fraction must be in [0,1], got {default_fraction}")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
            ),
            16, 10,
        ).cast("long")
        % 1_000_000
    )
    thr = None
    for name, frac in sorted(fractions.items()):
        lit = F.lit(int(round(frac * 1_000_000)))
        cond = F.col(domain_col) == name
        thr = F.when(cond, lit) if thr is None else thr.when(cond, lit)
    thr = (
        F.lit(int(round(default_fraction * 1_000_000)))
        if thr is None
        else thr.otherwise(F.lit(int(round(default_fraction * 1_000_000))))
    )
    return df.where(bucket < thr)
