"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

All are pure JVM column expressions (pyspark.sql.functions only) — they
run inside whole-stage codegen with zero Python in the executor path, so
throughput is parquet-scan-bound at any corpus size — except the portable
rolling fingerprint, whose Hive-parity 31-fold has no Spark built-in and
rides an Arrow batch instead (see its docstring). Each returns a Column
so callers compose them into selects without extra passes.
"""

from __future__ import annotations

import pandas as pd  # module-top: pandas_udf str-hints must resolve here
from pyspark.sql import Column
from pyspark.sql import functions as F

from hive_2_3_2_spark.functions.gaps import ngram_windows

# BPE-ish tokenization: word pieces, numbers, and single non-space symbols —
# the pre-tokenizer split GPT-style BPE vocabularies assume.
_BPE_SPLIT_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
# (A production langid would use char-trigram profiles; the operator shape —
# score per language from JVM regexp counts, argmax — is the same.)
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "los"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
}


def whitespace_token_count(text: Column) -> Column:
    """Number of whitespace-delimited tokens (bigint)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0).cast("long")).otherwise(
        F.size(F.split(trimmed, r"\s+")).cast("long")
    )


def bpe_token_count(text: Column) -> Column:
    """Approximate BPE token count: count of pre-tokenizer pieces
    (letters runs / digit runs / single symbols) — the standard cheap
    proxy for LLM token budgeting at corpus scale."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_SPLIT_RE), 0)).cast("long")


def punct_ratio(text: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are (English, by default) stopwords —
    high-quality natural text sits in a characteristic band."""
    words = _LANG_MARKERS[lang]
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    hits = F.size(F.filter(toks, lambda t: t.isin(words)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits / F.size(toks)
    )


def mean_word_length(text: Column) -> Column:
    toks = F.split(F.trim(text), r"\s+")
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total / F.size(toks)
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score from length / punctuation / stopword
    signals (Gopher-rules-style heuristics, expressed as one JVM column)."""
    n_chars = F.length(text)
    len_ok = F.when((n_chars >= 50) & (n_chars <= 20000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) < 0.3, 1.0).otherwise(0.0)
    stop = stopword_ratio(text)
    stop_ok = F.when((stop > 0.01) & (stop < 0.6), 1.0).otherwise(0.0)
    mwl = mean_word_length(text)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), 1.0).otherwise(0.0)
    return (len_ok + punct_ok + stop_ok + mwl_ok) / 4.0


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit counts (the scoring half of language ID)."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(words))).cast("long")
        for lang, words in _LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of per-language marker counts,
    'und' (undetermined) when no marker hits. Deterministic tie-break by
    language code order en < es < de < fr via greatest-struct trick."""
    scores = lang_scores(text)
    # struct(score, -index) argmax: highest score wins; ties → earliest lang.
    candidates = [
        F.struct(
            score.alias("s"), F.lit(-i).alias("pri"), F.lit(lang).alias("lang")
        )
        for i, (lang, score) in enumerate(scores.items())
    ]
    best = F.greatest(*candidates)
    return F.when(best.getField("s") == 0, F.lit("und")).otherwise(
        best.getField("lang")
    )


def normalize_for_fingerprint(text: Column) -> Column:
    """Canonical form for near-exact matching: lowercase, strip
    non-alphanumerics to single spaces, trim."""
    return F.trim(
        F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " ")
    )


def md5_fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text — the exact-dedup
    key (normalization absorbs whitespace/punct/case variance)."""
    return F.md5(normalize_for_fingerprint(text))


def rolling_shingle_fingerprint(text: Column, k: int = 5) -> Column:
    """Rolling fingerprint: xor-free order-insensitive combination of
    word-k-shingle hashes (bigint). Equal fingerprints ⇒ same shingle
    multiset mod collisions; cheap pre-filter before pairwise Jaccard.

    Uses Spark's engine hash (Murmur3) — the throughput path (stays in
    codegen). Values are engine-specific; for a cross-engine-reproducible
    fingerprint use :func:`rolling_shingle_fingerprint_portable`."""
    toks = F.split(normalize_for_fingerprint(text), " ")
    shingles = F.transform(
        ngram_windows(toks, k, partial_tail=True), lambda s: F.hash(s)
    )
    return F.aggregate(
        shingles,
        F.lit(0).cast("long"),
        lambda acc, h: acc + h.cast("long"),
    )


def _portable_rfp_udf(k: int):
    """Arrow pandas UDF computing the portable rolling fingerprint: sum of
    Java-``String.hashCode``-style 31-folds of each word-k-shingle of the
    normalized text. Engine-independent arithmetic (int32 wraparound fold,
    int64 sum) so an external system — or the DuckDB oracle — reproduces
    it bit-for-bit. Factory form per repo convention (module-level
    @pandas_udf breaks executor-side imports).

    Kept as the parity reference for the JVM fold in
    :func:`rolling_shingle_fingerprint_portable` (r13, same pattern as
    dedup._minhash_fold_udf); the query path no longer evaluates it."""

    def _shingle_hash(s: str) -> int:
        h = 0
        for byte in s.encode("utf-8"):
            h = (h * 31 + (byte - 256 if byte > 127 else byte)) & 0xFFFFFFFF
        return h - 0x100000000 if h >= 0x80000000 else h

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def rfp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = (t or "").split(" ")
            acc = 0
            for i in range(max(len(toks) - k, 0) + 1):
                acc += _shingle_hash(" ".join(toks[i : i + k]))
            out.append(acc)
        return pd.Series(out, dtype="int64")

    return rfp


def rolling_shingle_fingerprint_portable(text: Column, k: int = 5) -> Column:
    """Cross-engine-reproducible twin of
    :func:`rolling_shingle_fingerprint`: same shingle windows (indexes
    0..max(n-k,0), so short docs yield one partial shingle), but each
    shingle is hashed with the Hive/Java 31-byte-fold
    (ObjectInspectorUtils.hashCode — see functions/hive_hash.py) instead
    of Spark's Murmur3, and summed as int64.

    Since r13 the 31-fold runs as a JVM higher-order expression instead
    of the Arrow pandas UDF (guide §4.1 — the minhash-fold technique;
    this removes another ArrowEvalPython node from the engine's plans at
    measured-equal local cost). Bit-parity with the UDF (kept above as
    the reference) is provable: the normalized text is ASCII by
    construction ([a-z0-9 ] only), so the UDF's signed-UTF-8-byte fold
    equals a per-character ``ascii()`` fold, and Spark's non-ANSI int
    arithmetic wraps int32 exactly like the UDF's masked arithmetic —
    pinned over the real corpus in tests/test_optimization_r13.py.

    The fold is WORD-factored: hashing each k-word shingle
    independently re-folds every character k times (measured 2× slower
    than the UDF at sf0.1); instead each word is folded ONCE into
    (h, p) = (hashCode(w), 31^len(w)) and a shingle's hash composes in
    O(k) int ops via hash(a ⧺ b) = hash(a)·31^len(b) + hash(b) — so
    hash(s ⧺ ' ' ⧺ w) = (hash(s)·31 + 32)·p_w + h_w, every character
    touched exactly once (an algorithmic win any engine would keep).
    The when(i + j <= n) guards realize partial_tail: for n ≥ k every
    window is full (i ≤ n-k+1 ⇒ i+k-1 ≤ n); for n < k the single
    window folds only the n real words. Empty docs hash to 0 (their
    one window is the '' token, h = 0). The (h, p) array is bound as a
    one-element transform's lambda variable so it is evaluated ONCE per
    row regardless of how many times the composition references it
    (a Column expression has no projection to alias it in).

    Each composition step is written ``s·X_j + Y_j`` with the guard
    inside X_j (``31·p`` or 1) and Y_j (``32·p + h`` or 0), so ``s``
    appears once per step and the expression grows linearly in ``k``
    (a ``when(..., f(s)).otherwise(s)`` step doubles the tree per word:
    424 k characters of expression text at k=12). The values are the
    same: int32 wrap arithmetic is a ring, so ``s·31·p`` = ``s·(31·p)``.
    ``k`` < 1 raises ValueError (there is no 0-word shingle)."""
    if k < 1:
        raise ValueError(f"shingle length k must be >= 1, got {k}")
    toks = F.split(F.coalesce(normalize_for_fingerprint(text), F.lit("")), " ")
    hp_arr = F.transform(
        toks,
        lambda w: F.aggregate(
            F.split(w, ""),
            F.struct(F.lit(0).alias("h"), F.lit(1).alias("p")),
            lambda acc, c: F.struct(
                (acc.getField("h") * 31 + F.ascii(c)).alias("h"),
                (acc.getField("p") * 31).alias("p"),
            ),
        ),
    )

    def fold(hp: Column) -> Column:
        n = F.size(hp)

        def shingle(i: Column) -> Column:
            s = F.element_at(hp, i).getField("h")
            for j in range(1, k):
                e = F.element_at(hp, i + F.lit(j))
                inside = i + F.lit(j) <= n
                x = F.when(inside, e.getField("p") * 31).otherwise(1)
                y = F.when(
                    inside, F.lit(32) * e.getField("p") + e.getField("h")
                ).otherwise(0)
                s = s * x + y
            return s

        windows = F.transform(
            F.sequence(F.lit(1), F.greatest(n - k, F.lit(0)) + 1), shingle
        )
        return F.aggregate(
            windows, F.lit(0).cast("long"), lambda acc, h: acc + h.cast("long")
        )

    return F.element_at(F.transform(F.array(hp_arr), fold), 1)


def tfidf_top_terms(df, k: int = 3, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document top-k keywords by smoothed tf-idf:
    score = tf * ln((N+1)/(df+1)).

    Ranking is on the *integer* pair (tf DESC, df ASC, term ASC) — the
    same order tf-idf induces for a fixed corpus, but free of
    cross-engine floating-point tie ambiguity; the float score is
    emitted for consumers.

    Scale: three shuffles, all skew-safe (tf aggregate keyed on
    (doc, tok); term-level df aggregate over tf partials; per-doc
    window). The corpus size N is a 1-row broadcast. df table is
    term-keyed — heavy-hitter terms are fine because df is a
    pre-aggregated count, not a row explosion.
    """
    from pyspark.sql import DataFrame, Window  # local: avoid cycle at import

    spark_df: DataFrame = df
    # Expression TEXT throughout (selectExpr/F.expr): same Catalyst tree
    # as the former F.* chain, ~25 fewer py4j round trips per
    # construction (r12; each round trip ~2-8 ms on slow localhost).
    toks = spark_df.selectExpr(
        id_col, f"explode(split({text_col}, ' ')) AS tok"
    ).filter("tok != ''")
    tf = toks.groupBy(id_col, "tok").agg(F.expr("count(1) AS tf"))
    n_docs = spark_df.select(F.expr("count(1) AS n_docs"))
    # df (document frequency) = one count per tok over the tf rows,
    # aggregated FROM tf and joined back (r13). The r12 form — count(1)
    # OVER (PARTITION BY tok) — computed the same integers with one
    # fewer plan node but NO partial aggregation: every (doc, tok) tf
    # row of a hot token colocates in one window partition whose size is
    # that token's document frequency (up to n_docs — "the" becomes a
    # straggler task on natural text at 100 TB). The groupBy keeps
    # map-side combine (each task emits ≤1 row per tok, so the tok
    # exchange carries ≤ vocab × partitions partial rows, skew-free).
    # Tokenization still happens ONCE: dfreq is derived from tf itself,
    # so both join sides contain the tf aggregate's exchange and
    # ReuseExchange/AQE-stage-reuse dedups the scan→explode→tf subtree —
    # but ONLY if the two exchange subtrees stay canonically identical.
    # A plain count(1) df lets column pruning strip the count buffer
    # from this side's partial aggregate (functions=[] vs
    # [partial_count(1)] — verified by canonicalized-plan diff), and
    # count(tf) is rewritten back to count(1) because tf is provably
    # non-null; sum(IF(tf > 0, 1, 0)) — the same integer, tf ≥ 1 by
    # construction — is opaque enough to keep the buffer, and the
    # coalesce restores count's non-nullable schema. Measured: the plan
    # drops to ONE Generate/scan with a ReusedExchange (the pre-r12
    # groupBy+join aggregated df from the RAW toks — different subtree,
    # no reuse possible, corpus tokenized twice; that is what the window
    # fixed and this form keeps fixed). The join is left to the planner:
    # AQE's runtime stats broadcast the vocab-sized dfreq side locally,
    # and past the broadcast threshold it falls back to a shuffle join
    # whose skewed tok partitions AQE's skew-join handling can split —
    # a pinned broadcast would instead OOM on an unbounded vocabulary.
    dfreq = tf.groupBy("tok").agg(
        F.expr("coalesce(sum(IF(tf > 0, 1, 0)), 0L) AS df")
    )
    return (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .selectExpr(
            id_col,
            "tok",
            "tf",
            "df",
            "round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS score",
            f"row_number() OVER (PARTITION BY {id_col} "
            "ORDER BY tf DESC, df ASC, tok ASC) AS rn",
        )
        .filter(f"rn <= {k}")
        .select(id_col, "tok", "tf", "df", "score")
    )
