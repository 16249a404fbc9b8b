"""Text analysis for training-data pipelines: tokenization, quality
scoring, language ID, fingerprinting. All native Catalyst expressions —
at 100 TB these run map-side inside whole-stage codegen, no shuffle, no
Python workers.

Beyond-reference operators (the reference has no document processing);
designed to the same transform pattern as the GA operators.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

# Minimal deterministic stopword lists for the language-ID heuristic.
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "en": ["the", "and", "of", "to", "in", "is", "a", "that"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "que"],
    "fr": ["le", "les", "et", "est", "une", "des", "du", "dans"],
    "zh": ["de", "shi", "bu", "le", "ren", "wo", "you", "ta"],
}

ENGLISH_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def tokens(text: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


# GPT-2-flavored pre-tokenizer pattern, restricted to constructs both
# Java regex and RE2 support (no lookahead): contractions, letter runs,
# digit runs, punctuation runs, whitespace runs. Token counts from this
# approximate BPE pre-tokenization closely enough for length filtering.
BPE_SPLIT_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"
)


def bpe_tokens(text: Column | str) -> Column:
    """BPE-ish pre-tokenization via regexp_extract_all — the
    training-pipeline token counter (whitespace counting undercounts
    punctuation-heavy text)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.regexp_extract_all(c, F.lit(BPE_SPLIT_RE), 0)
    # drop pure-whitespace matches: they separate words, they are not tokens
    return F.filter(toks, lambda t: ~t.rlike(r"^\s+$"))


def bpe_token_count(text: Column | str) -> Column:
    return F.size(bpe_tokens(text))


def with_text_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / repetition quality signals."""
    toks = tokens(text_col)
    n_toks = F.size(toks)
    n_chars = F.length(F.col(text_col))
    stop = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    n_punct = F.length(
        F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", "")
    )
    n_distinct = F.size(F.array_distinct(toks))
    return df.withColumns(
        {
            "n_chars": n_chars,
            "n_tokens": n_toks,
            "avg_token_len": (
                F.length(F.array_join(toks, "")).cast("double")
                / n_toks.cast("double")
            ),
            "stopword_ratio": n_stop.cast("double") / n_toks.cast("double"),
            "punct_ratio": n_punct.cast("double") / n_chars.cast("double"),
            "distinct_token_ratio": (
                n_distinct.cast("double") / n_toks.cast("double")
            ),
        }
    )


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword hit counts (the language-ID signal)."""
    toks = tokens(text)
    out = {}
    for lang, words in LANG_STOPWORDS.items():
        wl = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(wl, t)))
    return out


def language_id(text: Column | str) -> Column:
    """Deterministic argmax over lang_scores with first-wins tie-break in
    fixed language order (sorted by code)."""
    scores = lang_scores(text)
    langs = sorted(scores)
    expr: Column | None = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        branch = F.when(cond, F.lit(lang))
        expr = branch if expr is None else expr.when(cond, F.lit(lang))
    assert expr is not None
    return expr.otherwise(F.lit(langs[0]))


# Unicode-script character classes (Java regex syntax — Spark's rlike /
# regexp_replace run on the JVM). Script detection is a far stronger
# language signal than stopwords for non-Latin text and costs one
# regexp_replace per script, map-side.
SCRIPT_CLASSES: dict[str, str] = {
    "arabic": r"\p{script=Arabic}",
    "cyrillic": r"\p{script=Cyrillic}",
    "han": r"\p{script=Han}",
    "hangul": r"\p{script=Hangul}",
    "kana": r"\p{script=Hiragana}\p{script=Katakana}",
    "latin": r"\p{script=Latin}",
}

SCRIPT_TO_LANG: dict[str, str] = {
    "arabic": "ar",
    "cyrillic": "ru",
    "han": "zh",
    "hangul": "ko",
    "kana": "ja",
}


def script_counts(text: Column | str) -> dict[str, Column]:
    """Characters per Unicode script (the script-ID signal)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        name: F.length(F.regexp_replace(c, f"[^{cls}]", ""))
        for name, cls in SCRIPT_CLASSES.items()
    }


def dominant_script(text: Column | str) -> Column:
    """Argmax over script_counts; ties break in fixed (sorted) script
    order; all-zero (e.g. digits-only text) falls back to 'latin'."""
    counts = script_counts(text)
    names = sorted(counts)
    expr: Column | None = None
    for name in names:
        cond: Column | None = None
        for other in names:
            if other == name:
                continue
            ge = counts[name] >= counts[other]
            cond = ge if cond is None else (cond & ge)
        assert cond is not None
        cond = cond & (counts[name] > 0)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    assert expr is not None
    return expr.otherwise(F.lit("latin"))


def language_id_scripted(text: Column | str) -> Column:
    """Two-stage language ID: non-Latin scripts map straight to their
    language (han→zh, hangul→ko, kana→ja, cyrillic→ru, arabic→ar);
    Latin text falls through to the stopword argmax. For Latin-only
    corpora this agrees with :func:`language_id` exactly, so the
    text_stats oracle is unaffected."""
    script = dominant_script(text)
    expr: Column | None = None
    for name, lang in sorted(SCRIPT_TO_LANG.items()):
        branch_cond = script == F.lit(name)
        expr = (
            F.when(branch_cond, F.lit(lang))
            if expr is None
            else expr.when(branch_cond, F.lit(lang))
        )
    assert expr is not None
    return expr.otherwise(language_id(text))


def doc_fingerprint(text: Column | str) -> Column:
    """Order-insensitive bag-of-words content fingerprint:
    md5 over the sorted distinct token set."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


# Rabin-Karp polynomial rolling-hash parameters. B is a small prime
# above the byte range; M is the Mersenne prime 2^31-1 so every partial
# product stays far inside int64 (max code point 0x10FFFF × B^3 ≈ 1.9e13).
WINNOW_BASE = 257
WINNOW_MOD = (1 << 31) - 1


def rolling_gram_hashes(text: Column | str, k: int = 4) -> Column:
    """Rabin-Karp hash of every character k-gram, as one array column.

    The polynomial h(i) = Σ_j code(c[i+j])·B^(k-1-j) mod M is the
    textbook rolling hash, evaluated Horner-style with a mod at every
    combine step — identical values to the closed form for any k, and
    every intermediate stays under 2^40, exactly reproducible in any
    int64 SQL engine.

    Shape matters more than the math here: the string is split to a
    char array ONCE, codes come from a transform whose lambda sees only
    its element, and the k-wide combine is a chain of k-1 zip_with
    steps against span-shifted slices. No lambda body references an
    outer array/string expression, so when the optimizer inlines this
    whole expression (pushed-down explode filters and self-join sides
    do), evaluation stays O(n·k) — the naive transform-over-positions
    formulation re-derives lower(text) per element and degrades to
    O(n²·k) interpreted eval. zip_with pads the shifted side with
    nulls, so the last k-1 entries go null and the final slice drops
    them. Returns an empty array for texts shorter than k."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    n = F.length(c)
    codes = F.transform(
        F.split(c, ""), lambda ch: F.ascii(ch).cast("long")
    )
    g = codes
    for j in range(1, k):
        shifted = F.slice(
            codes, j + 1, F.greatest(F.size(codes) - j, F.lit(0))
        )
        # mod at every combine step: identical values to the closed
        # form (mod distributes over + and ×) and overflow-safe for
        # any k, since acc < M keeps acc·B + code < 2^40
        g = F.zip_with(
            g, shifted, lambda a, b: (a * WINNOW_BASE + b) % WINNOW_MOD
        )
    return F.when(n >= k, F.slice(g, 1, n - (k - 1))).otherwise(
        F.array().cast("array<bigint>")
    )


def winnow_from_hashes(hashes: Column, w: int = 4) -> Column:
    """Window-minima selection over a k-gram hash array.

    Deliberately NOT written as ``transform(positions, i ->
    array_min(slice(hashes, i, w)))``: referencing the hash array
    inside a lambda body means that when the optimizer inlines the
    hash-building expression (CollapseProject / pushed-down explode
    filters do this), the whole array is re-derived per window position
    — O(n²·k) interpreted evaluation per row, observed as a >100×
    slowdown. Instead the sliding minimum is built by log2(w) zip_with
    doubling steps (pairwise min with a span-shifted copy, spans 1, 2,
    …, w/2); zip_with lambdas only see their element arguments, so the
    expression stays O(n·w) no matter where the optimizer inlines it.
    zip_with pads the shorter (shifted) side with nulls and
    least(a, null) = a, so tail entries hold partial-window minima; the
    final slice to m-w+1 windows drops them. Requires power-of-two w."""
    assert w >= 1 and (w & (w - 1)) == 0, "w must be a power of two"
    mins = hashes
    span = 1
    while span < w:
        shifted = F.slice(
            mins, span + 1, F.greatest(F.size(mins) - span, F.lit(0))
        )
        mins = F.zip_with(mins, shifted, lambda a, b: F.least(a, b))
        span *= 2
    m = F.size(hashes)
    return F.when(
        m >= w, F.array_distinct(F.slice(mins, 1, m - (w - 1)))
    ).otherwise(F.array().cast("array<bigint>"))


def winnow_fingerprints(
    text: Column | str, k: int = 4, w: int = 4
) -> Column:
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): slide a w-window over the k-gram rolling hashes and keep
    each window's minimum; the distinct minima are the fingerprint set.
    Guarantees every shared substring of length ≥ k+w-1 contributes at
    least one shared fingerprint, so near-dup detection only ever
    shuffles 8-byte hashes — never document text. O(n·w) per row inside
    codegen; empty array for texts shorter than k+w-1."""
    return winnow_from_hashes(rolling_gram_hashes(text, k=k), w=w)


def winnow_fingerprints_pandas(
    text_col: str = "text", k: int = 8, w: int = 4
) -> Column:
    """Arrow-vectorized winnowing — same integer arithmetic as
    :func:`winnow_fingerprints`, bit-identical output (parity-tested),
    ~50× faster.

    This is the one operator family where the pure-Catalyst form is the
    wrong hot path: higher-order functions are interpreted (no
    whole-stage codegen), so per-CHARACTER lambda evaluation costs ~1µs
    of boxing/dispatch — measured ~90 s for 5 000 × 550-char docs vs
    ~2 s for this numpy version. The UDF is still a narrow map-side
    transformation (text in, int64 array out, no state, no shuffle), so
    it scales exactly like the native expression would; only the
    per-batch execution engine differs. utf-32-le decode gives the same
    code points as Spark's ascii(substr(...)); np.unique sorts, which
    is set-equal to array_distinct (every consumer treats the result as
    a set)."""
    @F.pandas_udf(ArrayType(LongType()))
    def _winnow(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            if s is None:
                out.append(None)
                continue
            codes = np.frombuffer(
                s.lower().encode("utf-32-le"), dtype="<u4"
            ).astype(np.int64)
            n = codes.size
            if n < k + w - 1:
                out.append([])
                continue
            h = codes
            for j in range(1, k):
                h = (h[: n - j] * WINNOW_BASE + codes[j:]) % WINNOW_MOD
            m = h.size  # n - k + 1
            mins = np.minimum.reduce(
                [h[i : m - w + 1 + i] for i in range(w)]
            )
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    return _winnow(F.col(text_col))


def winnow_signature(
    text_col: str = "text", k: int = 8, w: int = 4
) -> Column:
    """Content signature: md5 over the sorted winnow fingerprint set.
    Two docs share a signature iff their winnowed substring profiles
    are identical — a high-threshold near-dup key (robust to the exact
    byte layout of repeated content, stricter than MinHash banding).
    Used as the state key of the streaming near-dup ledger."""
    fps = winnow_fingerprints_pandas(text_col, k=k, w=w)
    return F.md5(
        F.array_join(
            F.transform(F.array_sort(fps), lambda x: x.cast("string")), " "
        )
    )


def winnow_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
    max_df_inv: int | None = 20,
    arrow: bool = True,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints —
    the MOSS-style containment detector. Inverted-index shape: explode
    the fingerprint set, equi-join on the 8-byte hash, count shared
    fingerprints per pair. Only (id, hash, n_fp) rows ever shuffle —
    never text — and pair work is proportional to true overlap, so the
    plan survives a 100× corpus. Emits overlap = shared / min(|A|,|B|)
    (containment-flavored, robust to length mismatch).

    The df cap is the stop-fingerprint remedy applied, not just
    documented: fingerprints of boilerplate substrings (" of the ")
    appear in an O(corpus) fraction of docs, and each such bucket
    produces df² join pairs; the dropped fingerprints carry near-zero
    similarity signal by the same tf-idf argument that drops stopwords.
    ``max_df_inv`` drops fingerprints present in more than 1/max_df_inv
    of the corpus (df·max_df_inv > N, exact integer arithmetic so any
    oracle reproduces the boundary bit-for-bit) — relative, because
    boilerplate df scales with corpus size; ``max_df`` is an absolute
    cap for when a hard bucket bound (join fan-out ≤ max_df² per hash)
    is the priority. One extra window count over the exploded
    (id, hash) rows — still nothing but 8-byte hashes in the exchange;
    the corpus count broadcast is a single scalar."""
    from pyspark.sql import Window

    fp_expr = (
        winnow_fingerprints_pandas(text_col, k=k, w=w)
        if arrow
        else winnow_fingerprints(text_col, k=k, w=w)
    )
    fps = df.select(F.col(id_col), fp_expr.alias("fps")).withColumn(
        "n_fp", F.size("fps")
    )
    ex = fps.select(id_col, "n_fp", F.explode("fps").alias("fp"))
    if max_df is not None or max_df_inv is not None:
        ex = ex.withColumn(
            "_df", F.count("*").over(Window.partitionBy("fp"))
        )
        if max_df is not None:
            ex = ex.filter(F.col("_df") <= max_df)
        if max_df_inv is not None:
            tot = df.agg(F.count("*").alias("_n_docs"))
            ex = ex.crossJoin(F.broadcast(tot)).filter(
                F.col("_df") * max_df_inv <= F.col("_n_docs")
            ).drop("_n_docs")
        ex = ex.drop("_df")
    # Both self-join sides and the pair groupBy read the index; without
    # this the interpreted fingerprint expression re-evaluates once per
    # side (measured 2× the whole query). Slim rows only — the cache
    # holds (id, n_fp, hash), never text. Callers/bench own cleanup via
    # clearCache, same convention as the dedup.py pair generators.
    ex = ex.persist()
    left, right = ex.alias("l"), ex.alias("r")
    return (
        left.join(
            right,
            (F.col("l.fp") == F.col("r.fp"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .agg(
            F.count("*").alias("n_shared"),
            F.min("l.n_fp").alias("n_fp_a"),
            F.min("r.n_fp").alias("n_fp_b"),
        )
        .filter(F.col("n_shared") >= min_shared)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            (
                F.col("n_shared").cast("double")
                / F.least("n_fp_a", "n_fp_b").cast("double")
            ).alias("overlap"),
        )
    )


def char_entropy(text: Column | str) -> Column:
    """Shannon entropy (bits/char) of the character distribution — the
    classic gibberish/boilerplate quality signal (low → repeated
    padding, high → random noise; natural language sits ~3.5-4.5).

    Pure Catalyst higher-order functions, no explode: the histogram is
    built per row as transform-over-sorted-distinct-chars (O(distinct ×
    len) inside codegen — distinct ≤ alphabet size), so nothing
    shuffles and the whole expression pipelines into the scan. The
    summation folds over SORTED distinct chars, making the double
    accumulation order engine-portable (the DuckDB oracle sums in the
    same order)."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t)
    chars = F.transform(
        F.sequence(F.lit(1), n), lambda i: F.substr(t, i, F.lit(1))
    )
    ds = F.array_sort(F.array_distinct(chars))
    counts = F.transform(
        ds, lambda d: F.size(F.filter(chars, lambda c: c == d))
    )
    terms = F.transform(counts, lambda k: (k / n) * F.log2(k / n))
    return F.when(
        n > 0, -F.aggregate(terms, F.lit(0.0), lambda a, v: a + v)
    ).otherwise(F.lit(0.0))


def char_entropy_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_chars, n_distinct_chars, entropy_bits): the
    :func:`char_entropy` quality signal plus its length/distinct
    companions, computed in ONE Arrow map instead of three
    higher-order-function expression trees.

    The Catalyst form builds a per-row chars array and runs
    filter-per-distinct-char — O(distinct × len) interpreted expression
    steps per row (r13 left it as an optimization candidate). Here each
    batch row pays one C-speed Counter pass + a sorted fold (guide
    §4.2: hand whole batches to native code). The double accumulation
    folds over SORTED distinct chars left-to-right, exactly the HOF
    expression's order, and equality is pinned: exceptAll both ways is
    empty on all shipped SFs (and re-checked by a regression test), so
    the rewrite is value-identical, not merely close.
    """
    from collections import Counter

    def gen(batches):
        for pdf in batches:
            ids, ns, nds, ents = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    # matches both the HOF form and the SQL oracle:
                    # length(NULL) is NULL but the entropy CASE falls
                    # through to 0.0
                    ids.append(doc_id)
                    ns.append(None)
                    nds.append(None)
                    ents.append(0.0)
                    continue
                n = len(text)
                if n == 0:
                    # oracle semantics (range(1,1) is empty -> 0
                    # distinct chars); the HOF form's sequence(1,0)
                    # quirk would say 1 — no shipped row hits this
                    ids.append(doc_id)
                    ns.append(0)
                    nds.append(0)
                    ents.append(0.0)
                    continue
                counts = Counter(text)
                acc = 0.0
                nf = float(n)
                for ch in sorted(counts):
                    p = counts[ch] / nf
                    # the JVM's log2 is log(p) / log(2), not libm's log2
                    acc = acc + p * (math.log(p) / math.log(2))
                ids.append(doc_id)
                ns.append(n)
                nds.append(len(counts))
                ents.append(round(-acc if acc != 0.0 else 0.0, 6))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_chars": pd.Series(ns, dtype="Int32"),
                    "n_distinct_chars": pd.Series(nds, dtype="Int32"),
                    "entropy_bits": pd.Series(ents, dtype="float64"),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        gen,
        f"{id_col} {id_type}, n_chars int, n_distinct_chars int, "
        "entropy_bits double",
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Sliding-window document chunking — the context-length prep step
    of a training pipeline: each doc becomes ceil-stride windows of
    ``chunk_tokens`` tokens overlapping by ``overlap`` (the last chunk
    keeps the tail). Pure map-side Catalyst (tokenize once, explode a
    chunk-index sequence, slice per index) — no shuffle, rows fan out
    ~n/stride per doc, and the slice start arithmetic is exact integer
    math any engine reproduces. Output: (id, chunk_idx, n_chunk_tokens,
    chunk_text). Reserves the temp column names ``_toks``/``_n`` (input
    columns with those names are replaced; repo-wide underscore
    convention for operator-internal columns)."""
    if not 0 <= overlap < chunk_tokens:
        # a bare assert is stripped under python -O, and overlap >=
        # chunk_tokens would make the stride non-positive (runaway
        # chunk-index sequence) instead of a clear error
        raise ValueError(
            f"require 0 <= overlap < chunk_tokens, got overlap={overlap} "
            f"chunk_tokens={chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    d = df.withColumn("_toks", tokens(text_col)).withColumn(
        "_n", F.size("_toks")
    )
    n_chunks = F.when(F.col("_n") <= chunk_tokens, F.lit(1)).otherwise(
        F.expr(
            f"((_n - {chunk_tokens}) + {stride - 1}) div {stride} + 1"
        ).cast("int")
    )
    ch = d.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        "_toks",
    )
    sliced = F.slice(
        F.col("_toks"), F.col("chunk_idx") * stride + 1, chunk_tokens
    )
    return ch.select(
        id_col,
        "chunk_idx",
        F.size(sliced).alias("n_chunk_tokens"),
        F.array_join(sliced, " ").alias("chunk_text"),
    )


# --------------------------------------------------------------------------
# IR scoring: TF-IDF + BM25 — corpus search/relevance over documents
# --------------------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF.

    idf = ln((N+1)/(df+1)) + 1 (sklearn's smooth variant). Plan: one
    explode to (doc, word), a (doc, word) count, a word-level document
    frequency derived FROM that count (no second pass over text), and
    two broadcast joins (df table = vocabulary-sized; N = one row).
    Only (doc_id, word, count) rows shuffle. ln() is reproduced
    bit-for-bit by DuckDB on this data (char_entropy precedent), and
    the final score is round(_, 6).
    """
    from pyspark.sql import Window

    w = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("word"))
    tf = w.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = df.select(F.count("*").alias("n_docs"))
    idf = F.log(
        (F.col("n_docs").cast("double") + 1.0)
        / (F.col("df").cast("double") + 1.0)
    ) + 1.0
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "word",
            "tf",
            F.round(F.col("tf").cast("double") * idf, 6).alias("tfidf"),
        )
    )
    win = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
    )


def bm25_search(
    df: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25 (Robertson).

    One pass builds per-doc term frequencies as conditional aggregates
    (no per-term joins); corpus stats (N, avgdl, per-term document
    frequencies) reduce to a single broadcast row. The per-term score
    sum is written in sorted(terms) order on both engines so float
    addition order is fixed. At scale this is the scoring stage of a
    distributed search: everything after the explode is a hash
    aggregation plus a map-side projection against one broadcast row.
    """
    ts = sorted(terms)
    w = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("word"))
    per_doc = w.groupBy(id_col).agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("word") == t, 1).otherwise(0))
            .alias(f"tf_{i}")
            for i, t in enumerate(ts)
        ],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("dl_sum"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
            .alias(f"df_{i}")
            for i in range(len(ts))
        ],
    )
    joined = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("dl_sum").cast("double") / F.col("n_docs").cast("double")
    score = F.lit(0.0)
    for i in range(len(ts)):
        tf = F.col(f"tf_{i}").cast("double")
        dfre = F.col(f"df_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs").cast("double") - dfre + 0.5) / (dfre + 0.5)
            + 1.0
        )
        denom = tf + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
        score = score + idf * (tf * (k1 + 1.0)) / denom
    from pyspark.sql import Window

    # global top-k via orderBy+limit (planned as distributed
    # TakeOrdered — per-partition heaps, no single-reducer window over
    # the whole corpus); the rank window then runs over k rows only
    topk = (
        joined.select(
            F.col(id_col), F.col("dl"),
            F.round(score, 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )
    win = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return topk.withColumn("rank", F.row_number().over(win))


# ---------------------------------------------------------------------------
# Positional phrase search (zero-shuffle scan operator)
# ---------------------------------------------------------------------------

def phrase_hits(toks: Column, words: list[str]) -> Column:
    """1-based start positions of exact consecutive-token matches of
    ``words`` inside the token array ``toks``, overlapping matches
    included.

    This is the scan-local formulation of phrase search: instead of a
    positional inverted index (k-way self-join on (doc, pos) — k join
    legs, k shuffles), the candidate window positions are enumerated
    per document with ``sequence`` + ``filter`` higher-order functions,
    so the whole operator is ONE map-side projection inside the parquet
    scan stage — no exchange at any corpus size. A persisted postings
    index only wins when the phrase vocabulary is queried repeatedly
    against a frozen corpus (the build-once-query-many regime of the
    persisted IVF index in operators/similarity.py); for one-shot
    search, scan-local is strictly better.
    """
    if not words:
        raise ValueError("phrase_hits: empty phrase")
    k = len(words)
    idx = F.sequence(F.lit(1), F.size(toks) - k + 1)

    def _match(i: Column) -> Column:
        conds = [
            F.element_at(toks, (i + j).cast("int")) == F.lit(w)
            for j, w in enumerate(words)
        ]
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out

    return F.when(
        F.size(toks) >= k, F.filter(idx, _match)
    ).otherwise(F.array().cast("array<int>"))


def phrase_search(
    df: DataFrame,
    phrases: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Docs matching any of ``phrases`` (space-tokenized): one output
    row per (phrase, matching doc) with match count and first 1-based
    position. One scan branch per phrase, each fully map-side."""
    toks = F.split(F.col(text_col), " ")
    base = df.select(id_col, toks.alias("_toks"))
    outs = []
    for phrase in phrases:
        hits = phrase_hits(F.col("_toks"), phrase.split())
        outs.append(
            base.select(
                F.lit(phrase).alias("phrase"),
                F.col(id_col),
                F.size(hits).cast("long").alias("n_matches"),
                F.element_at(hits, 1).cast("long").alias("first_pos"),
            ).filter(F.col("n_matches") > 0)
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# Windowed co-occurrence + PMI (corpus association statistics)
# ---------------------------------------------------------------------------

def cooccurrence_pairs(
    df: DataFrame,
    text_col: str = "text",
    window: int = 3,
) -> DataFrame:
    """(w1, w2, n_pair) counts of unordered token pairs co-occurring
    within ``window`` positions, across the corpus.

    Map-side pair enumeration: for each distance d ∈ 1..window the pair
    list is ``arrays_zip(slice(toks, 1, n-d), slice(toks, d+1, n-d))``
    — a pure projection; the only exchange is the final (w1, w2) hash
    aggregation over pairs, whose fan-out is ``window ×`` the token
    count (linear, never doc-length²)."""
    toks = F.split(F.col(text_col), " ")
    base = df.select(toks.alias("_t"), F.size(toks).alias("_n"))
    outs = []
    for d in range(1, window + 1):
        ln = F.greatest(F.col("_n") - d, F.lit(0))
        z = F.arrays_zip(
            F.slice(F.col("_t"), 1, ln), F.slice(F.col("_t"), d + 1, ln)
        )
        outs.append(
            base.select(F.explode(z).alias("_p")).select(
                F.least(F.col("_p.0"), F.col("_p.1")).alias("w1"),
                F.greatest(F.col("_p.0"), F.col("_p.1")).alias("w2"),
            )
        )
    pairs = outs[0]
    for o in outs[1:]:
        pairs = pairs.unionByName(o)
    return pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_pair")
    )


def pmi_scores(
    df: DataFrame,
    text_col: str = "text",
    window: int = 3,
    min_pair: int = 40,
) -> DataFrame:
    """(w1, w2, n_pair, pmi): pointwise mutual information of windowed
    co-occurrences, ``pmi = ln(c_ab·N_w² / (N_pair·c_a·c_b))`` as ONE
    fixed-order double expression over exact integer counts (the
    repo's ln-parity convention — hopping_distinct, dsir_weights).

    Unigram table and the two scalar totals are broadcast (vocab-sized
    and 1-row); the pair table is the only data-sized aggregation."""
    toks = F.split(F.col(text_col), " ")
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # both scalar totals fall out of doc LENGTHS alone (Σ n and
    # Σ_d max(n-d, 0) per doc) — one cheap scan, no second pair fan-out
    n = F.size(toks)
    pair_slots = None
    for d in range(1, window + 1):
        g = F.greatest(n - d, F.lit(0)).cast("long")
        pair_slots = g if pair_slots is None else pair_slots + g
    totals = df.select(
        n.cast("long").alias("_n"), pair_slots.alias("_ps")
    ).agg(
        F.sum("_n").cast("long").alias("n_w"),
        F.sum("_ps").cast("long").alias("n_pairs_total"),
    )
    pairs = cooccurrence_pairs(df, text_col, window).filter(
        F.col("n_pair") >= min_pair
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("_c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("_c2"))
    j = (
        pairs.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (
            F.col("n_pair").cast("double")
            * F.col("n_w").cast("double")
            * F.col("n_w").cast("double")
        )
        / (
            F.col("n_pairs_total").cast("double")
            * F.col("_c1").cast("double")
            * F.col("_c2").cast("double")
        )
    )
    return j.select(
        "w1", "w2", "n_pair", F.round(pmi, 6).alias("pmi")
    )


HASHING_TRICK_DIM = 1024


def hashed_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = HASHING_TRICK_DIM,
) -> DataFrame:
    """Hashing-trick bag-of-words (Weinberger et al., ICML 2009): each
    token hashes to one of ``dim`` feature indices (md5 prefix — the
    engine-portable hash every sketch in this repo uses) and counts
    sum per (doc, index) — the fixed-width, vocabulary-free text
    featurization that needs NO fitted dictionary, which is what makes
    it the scale path (a count-vectorizer's vocab is cluster state; a
    hash function is not).

    Output is the sparse long form (doc, feature_idx, count) — the
    shape a downstream learner or the JL/IVF embedding operators
    consume. One explode + one hash aggregation; map-side partial
    aggregation absorbs token repeats before the shuffle.
    """
    toks = tokens(text_col)
    ex = df.select(
        F.col(id_col), F.explode(toks).alias("_tok")
    )
    idx = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("hf-"), F.col("_tok"))),
                        1, 14),
            16, 10,
        ).cast("long")
        % dim
    )
    return (
        ex.select(id_col, idx.alias("feature_idx"))
        .groupBy(id_col, "feature_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
    )


def build_positional_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """Positional postings table ``(term_bucket, term, doc_id, pos)``
    — the build-once-query-many companion of the scan-local
    :func:`phrase_hits` (exactly the trade documented there: the
    index only pays when a frozen corpus serves many queries, the
    regime of the persisted IVF index in operators/similarity.py).

    ``term_bucket = md5(term) % n_buckets`` exists to be the PARTITION
    key when the index is persisted (``.write.partitionBy(
    "term_bucket")``): a phrase query touches k terms -> k buckets, so
    the scan prunes to k/n_buckets of the index files before any row
    is read. Build is one posexplode projection — the only shuffle is
    the optional write-side repartition.
    """
    toks = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col), F.posexplode(toks).alias("_p", "term")
    ).select(
        (
            F.conv(F.substring(F.md5(F.col("term")), 1, 14), 16, 10)
            .cast("long") % n_buckets
        ).alias("term_bucket"),
        "term",
        id_col,
        (F.col("_p") + 1).cast("long").alias("pos"),  # 1-based
    )


def phrase_query_index(
    index: DataFrame,
    phrases: list[str],
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Exact phrase retrieval FROM a positional index: the classic
    k-way positional self-join — leg j keeps postings of word j with
    candidate start ``pos - j``, an inner join on (doc, start) per
    additional leg. Output matches :func:`phrase_search` row-for-row
    (``(phrase, doc_id, n_matches, first_pos)``, overlapping matches
    included), pinned by tests — the two formulations are the same
    operator at different points in the build/query cost trade.

    Every leg filters on ``(term_bucket, term)`` so a
    partitionBy(term_bucket)-persisted index prunes to the k touched
    buckets (the nprobe analogue). k-1 joins shuffle only the touched
    terms' postings, never the corpus.
    """
    outs = []
    for phrase in phrases:
        words = phrase.split()
        if not words:
            raise ValueError("phrase_query_index: empty phrase")
        legs = []
        for j, w in enumerate(words):
            b = int(
                __import__("hashlib").md5(w.encode()).hexdigest()[:14],
                16,
            ) % n_buckets
            legs.append(
                index.filter(
                    (F.col("term_bucket") == b) & (F.col("term") == w)
                ).select(
                    F.col(id_col),
                    (F.col("pos") - j).alias("_start"),
                )
            )
        hits = legs[0]
        for leg in legs[1:]:
            hits = hits.join(leg, [id_col, "_start"])
        outs.append(
            hits.groupBy(id_col).agg(
                F.count(F.lit(1)).cast("long").alias("n_matches"),
                F.min("_start").cast("long").alias("first_pos"),
            ).select(
                F.lit(phrase).alias("phrase"),
                id_col, "n_matches", "first_pos",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def token_frequencies(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus token frequency table ``(token, freq)`` — one explode +
    one hash aggregation; the vocabulary table is orders smaller than
    the corpus (Heaps' law), so downstream vocabulary statistics move
    vocab-sized data only."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def good_turing_smoothing(freqs: DataFrame) -> DataFrame:
    """Simple Good-Turing discounting over a token FREQUENCY table
    (``token_frequencies`` output — vocab grain, not corpus grain):
    the frequency-of-frequencies N_r, the Turing-discounted count
    r* = (r+1) * N_{r+1} / N_r where N_{r+1} is observed, and each
    class's total probability mass (r* N_r / N). The unseen-mass row
    (r=0, the classic N_1/N estimate) is included. The
    frequency-of-frequencies table is tiny (hundreds of rows for any
    corpus), so the r+1 self-join broadcasts."""
    nr = freqs.groupBy(F.col("freq").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    total = nr.agg(
        F.sum(F.col("r") * F.col("n_r")).alias("_n")
    )
    nxt = nr.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1")
    )
    base = nr.join(F.broadcast(nxt), "r", "left")
    unseen = (
        nr.filter(F.col("r") == 1)
        .select(
            F.lit(0).cast("long").alias("r"),
            F.lit(None).cast("long").alias("n_r"),
            F.col("n_r").alias("n_r1"),
        )
    )
    n = F.col("_n").cast("double")
    r_star = F.when(
        F.col("r") == 0,
        F.col("n_r1").cast("double") / n,  # unseen: N_1/N as mass
    ).otherwise(
        (F.col("r") + 1).cast("double")
        * F.col("n_r1").cast("double") / F.col("n_r").cast("double")
    )
    return (
        base.unionByName(unseen)
        .crossJoin(F.broadcast(total))
        .select(
            "r",
            "n_r",
            F.round(
                F.when(F.col("r") > 0, r_star), 6
            ).alias("r_star"),
            F.round(
                F.when(
                    F.col("r") == 0,
                    F.col("n_r1").cast("double") / n,
                ).otherwise(
                    F.when(
                        F.col("n_r1").isNotNull(),
                        r_star * F.col("n_r").cast("double") / n,
                    )
                ),
                6,
            ).alias("prob_mass"),
        )
    )


def zipf_alpha(freqs: DataFrame, fmin: int = 1) -> DataFrame:
    """Power-law (Zipf) exponent of a token frequency distribution by
    the Clauset-Shalizi-Newman discrete MLE approximation:
    alpha = 1 + n / sum(ln(f_i / (fmin - 0.5))) over tokens with
    f_i >= fmin — one aggregation over the vocab-sized frequency
    table, no ordering anywhere. Emits alpha, its standard error
    (alpha-1)/sqrt(n), and the tail share covered."""
    sel = freqs.filter(F.col("freq") >= fmin)
    tot = freqs.agg(F.sum("freq").alias("_all"))
    agg = sel.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("freq").cast("long").alias("n_tokens"),
        F.sum(
            F.log(F.col("freq").cast("double") / (fmin - 0.5))
        ).alias("_lsum"),
    )
    alpha = (
        1.0
        + F.col("n_types").cast("double") / F.col("_lsum")
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.lit(fmin).cast("long").alias("fmin"),
        "n_types",
        "n_tokens",
        F.round(alpha, 6).alias("alpha"),
        F.round(
            (alpha - 1.0)
            / F.sqrt(F.col("n_types").cast("double")),
            6,
        ).alias("alpha_se"),
        F.round(
            F.col("n_tokens").cast("double")
            / F.col("_all").cast("double"),
            6,
        ).alias("tail_token_share"),
    )


def stupid_backoff_scores(
    docs: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Stupid-backoff bigram LM scoring (Brants et al. 2007 — the
    count-based quality signal web-scale pipelines use where a real
    LM is too expensive): score(w2|w1) = c(w1,w2)/c(w1) when the
    bigram was seen in the TRAIN corpus, else alpha * c(w2)/N
    (backoff to the unigram). Emits per-document bigram count, mean
    log score, and the backoff rate (share of bigrams that fell back
    — high backoff = out-of-domain text).

    Scale shape: counts are vocab-/bigram-vocab-sized aggregations
    (orders smaller than the corpus, Heaps' law); scoring is two hash
    joins of the doc-bigram table against those count tables, then
    one per-doc aggregation. Unseen-unigram bigrams score as alpha *
    1/N (add-one floor) so logs stay finite."""
    def bigrams(df: DataFrame) -> DataFrame:
        toks = df.select(id_col, tokens(F.col(text_col)).alias("t"))
        return toks.select(
            id_col,
            F.explode(
                F.expr(
                    "transform(slice(t, 1, greatest(size(t) - 1, 0)),"
                    " (x, i) -> struct(x AS w1, t[i + 1] AS w2))"
                )
            ).alias("bg"),
        ).select(id_col, "bg.w1", "bg.w2")

    train_toks = train.select(
        F.explode(tokens(F.col(text_col))).alias("w")
    )
    uni = train_toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("cw")
    )
    total = train_toks.count()  # scalar: one distributed count
    bi = bigrams(train).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    scored = (
        bigrams(docs)
        .join(bi, ["w1", "w2"], "left")
        .join(
            uni.select(F.col("w").alias("w1"),
                       F.col("cw").alias("cw1")),
            "w1", "left",
        )
        .join(
            uni.select(F.col("w").alias("w2"),
                       F.col("cw").alias("cw2")),
            "w2", "left",
        )
        .select(
            id_col,
            F.when(
                F.col("cb").isNotNull(),
                F.log(F.col("cb").cast("double")
                      / F.col("cw1").cast("double")),
            ).otherwise(
                F.log(
                    F.lit(float(alpha))
                    * F.coalesce(F.col("cw2"), F.lit(1)).cast("double")
                    / F.lit(float(total))
                )
            ).alias("lp"),
            F.col("cb").isNull().cast("int").alias("backed_off"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("mean_log_score"),
        F.round(
            F.sum("backed_off").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("backoff_rate"),
    )
