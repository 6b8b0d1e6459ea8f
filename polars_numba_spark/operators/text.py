"""Text-analysis operators for training-data pipelines.

All of these are pure ``pyspark.sql.functions`` column expressions — they
stay inside whole-stage codegen (no Python in the hot path) and scale
linearly with a parquet scan: the right shape for language-ID / quality /
token statistics over billions of documents.

Every operator here is deterministic and SQL-expressible, so each catalog
query built on them carries an exact DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and frozen: they are part of the operator's
# contract (the oracle SQL embeds the same lists).
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "que", "pour", "dans"],
    "es": ["el", "la", "los", "de", "y", "un", "en", "que", "por", "con"],
    "de": ["der", "die", "das", "und", "ein", "zu", "mit", "von", "ist", "nicht"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}
LANG_ORDER = ["en", "fr", "es", "de", "zh"]  # deterministic tie-break order


# Case-mapping mode for every casefolding text operator (VERDICT r11 #3).
# 'full' (default) is the JVM's full Unicode case mapping — the richer,
# Spark-native behavior. 'simple' reproduces the 1:1 SIMPLE mapping that
# utf8proc-based engines (DuckDB) apply, for users who need cross-engine
# bit-reproducible dedup/tokenization on multilingual corpora. The two
# mappings differ on exactly two lowercase inputs (SpecialCasing.txt):
# U+0130 İ (full: 'i'+U+0307 combining dot; simple: 'i') and U+03A3 Σ
# (full: context-sensitive final sigma 'ς'; simple: 'σ' always) — so
# 'simple' pre-translates those two characters before lower(), which
# leaves every other code point (and all ASCII) byte-identical to 'full'.
# A pre-existing lowercase 'ς' in the input is untouched by BOTH engines
# (its simple mapping is itself), which is why the translation must happen
# BEFORE lower(), never after. Pinned by tests/test_unicode_caveats.py.
_CASEFOLD_MODES = ("full", "simple")
_casefold_mode = os.environ.get("PNS_CASEFOLD", "full")
if _casefold_mode not in _CASEFOLD_MODES:  # fail at import, not mid-query
    raise ValueError(
        f"PNS_CASEFOLD must be one of {_CASEFOLD_MODES}, got {_casefold_mode!r}"
    )


def set_casefold(mode: str) -> None:
    """Set the process-wide default case-mapping mode ('full' | 'simple').
    Column expressions built AFTER the call use the new mode; the env var
    ``PNS_CASEFOLD`` seeds the initial default.

    This is deliberately a process-global (it models a corpus-wide
    normalization convention, set once at session start): it is not
    thread-safe, and expressions built BEFORE a mid-session call keep the
    mode they were built under — mixing modes in one plan is on the caller.
    Prefer the per-call ``casefold=`` argument when two modes must coexist."""
    global _casefold_mode
    if mode not in _CASEFOLD_MODES:
        raise ValueError(f"casefold must be one of {_CASEFOLD_MODES}, got {mode!r}")
    _casefold_mode = mode


def get_casefold() -> str:
    return _casefold_mode


def py_casefolded(s: str, casefold: str | None = None) -> str:
    """Driver-side (plain Python) twin of :func:`casefolded`, for the few
    places that tokenize QUERY strings on the driver (BM25 / phrase search)
    while documents go through :func:`tokens`. Under ``casefold='simple'``
    Python's full-Unicode ``str.lower()`` diverges from the column path on
    exactly the two code points the knob exists for ('İ'→'i̇', final-sigma
    'ΑΣ'→'ας'), so query terms could never match document tokens; the same
    pre-translation keeps both sides consistent (ADVICE r12)."""
    mode = casefold if casefold is not None else _casefold_mode
    if mode not in _CASEFOLD_MODES:
        raise ValueError(f"casefold must be one of {_CASEFOLD_MODES}, got {mode!r}")
    if mode == "simple":
        s = s.translate({ord("İ"): "i", ord("Σ"): "σ"})
    return s.lower()


def casefolded(col: Column | str, casefold: str | None = None) -> Column:
    """Lowercase with selectable Unicode case-mapping semantics (see the
    module note above). ``casefold=None`` uses the process default."""
    c = F.col(col) if isinstance(col, str) else col
    mode = casefold if casefold is not None else _casefold_mode
    if mode not in _CASEFOLD_MODES:
        raise ValueError(f"casefold must be one of {_CASEFOLD_MODES}, got {mode!r}")
    if mode == "simple":
        c = F.translate(c, "İΣ", "iσ")
    return F.lower(c)


def tokens(col: Column | str, casefold: str | None = None) -> Column:
    """Whitespace tokenization of lowercased, trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(casefolded(c, casefold)), r"\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: alphanumeric runs and single punctuation
    marks, the regex approximation of a BPE pre-tokenizer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))


def distinct_tokens(col: Column | str) -> Column:
    """Sorted distinct token set (basis for fingerprints and Jaccard)."""
    return F.array_sort(F.array_distinct(tokens(col)))


def token_shingles(col: Column | str, n: int = 8) -> Column:
    """Distinct n-gram token shingles ('w1 w2 ... wn' strings), the unit of
    benchmark-decontamination overlap checks. Pure codegen (transform over a
    sequence of slice starts); documents shorter than n tokens yield an
    empty array (Spark's sequence(1, 0) would count DOWN — guarded)."""
    t = tokens(col)
    size = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(1), size - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    return F.array_distinct(
        F.when(size >= n, grams).otherwise(F.array().cast("array<string>"))
    )


SQL_TOKEN_SHINGLES = (
    "list_distinct(list_transform("
    "range(1, greatest(length({t}) - {m}, 0) + 1), "
    "i -> array_to_string({t}[i : i + {m}], ' ')))"
)


def sql_token_shingles(c: str, n: int = 8) -> str:
    """DuckDB spelling of :func:`token_shingles` (m = n - 1: DuckDB list
    slices are 1-based inclusive, so t[i : i+m] is n elements)."""
    return SQL_TOKEN_SHINGLES.format(t=SQL_TOKENS.format(c=c), m=n - 1)


def positioned_token_shingles(col: Column | str, n: int = 8) -> Column:
    """All n-gram shingles IN ORDER, duplicates kept — the element's array
    index is its 0-based token start position. The positional unit for
    exact-substring span extraction (:func:`~polars_numba_spark.operators.
    dedup.duplicated_spans`), where :func:`token_shingles`' distinct set
    would lose both position and within-document repeats."""
    t = tokens(col)
    size = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(1), size - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    return F.when(size >= n, grams).otherwise(F.array().cast("array<string>"))


def winnowing_fingerprints(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    portable: bool = False,
):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS local fingerprinting algorithm): hash every character k-gram
    of the whitespace-normalized text with a ROLLING window position, then
    keep the minimum hash of each w-wide window of consecutive k-gram
    hashes. Guarantees: any shared substring of length ≥ k + w - 1 between
    two documents contributes at least one IDENTICAL fingerprint to both
    (detection guarantee), and fingerprint density is ~2/(w+1) of the
    k-gram count (bounded sketch size) — the classic rolling-hash
    fingerprint for plagiarism/overlap detection, complementing the
    order-insensitive :func:`fingerprint` (whole-doc bucket key) and
    MinHash (set resemblance): winnowing localizes WHERE the overlap is.

    Returns (id, n_grams, fingerprints: array<long>) — pure codegen, no
    shuffle, no UDF: the k-gram hash table is materialized once as a
    column so the window-min pass reads it instead of re-hashing per
    window (Spark HOFs run interpreted — same rationale as the
    explode→aggregate minhash rewrite). ``portable=True`` uses the md5
    recipe DuckDB reproduces bit-exactly; default is xxhash64.
    """
    from polars_numba_spark.operators.dedup import md5_long

    c = F.col(text_col)
    s = F.regexp_replace(F.trim(casefolded(c)), r"\s+", " ")
    n_grams = F.length(s) - (k - 1)

    def h(gram: Column) -> Column:
        return md5_long(gram) if portable else F.xxhash64(gram)

    grams = F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: h(F.substring(s, i, k))
    )
    # sequence(1, n) counts DOWN for n < 1 (the token_shingles guard)
    staged = df.select(
        F.col(id_col).alias("id"),
        F.greatest(F.coalesce(n_grams, F.lit(0)), F.lit(0)).alias("n_grams"),
        F.when(n_grams >= 1, grams)
        .otherwise(F.array().cast("array<long>"))
        .alias("__h"),
    )
    n_windows = F.size("__h") - (w - 1)
    fps = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.array_min(F.slice(F.col("__h"), i, w)),
    )
    return staged.select(
        "id",
        "n_grams",
        F.when(n_windows >= 1, F.array_distinct(fps))
        .otherwise(F.array().cast("array<long>"))
        .alias("fingerprints"),
    )


def kneser_ney_logprob_scores(
    df, text_col: str = "text", id_col: str = "doc_id", discount: float = 0.75,
    broadcast_vocab: bool = True,
):
    """Interpolated KNESER-NEY bigram LM scoring (Kneser & Ney 1995; the
    Chen & Goodman 1998 interpolated form with a fixed discount) — the
    smoothing upgrade of :func:`bigram_logprob_scores`: instead of
    backing off to raw unigram frequency, unseen/discounted mass goes to
    the CONTINUATION probability P_cont(w) = N1+(·w) / |bigram types| —
    "how many contexts does w complete", the quantity that stops
    high-frequency-but-context-bound tokens (the "Francisco" problem)
    from absorbing backoff mass:

        P(w|v) = max(c(v,w) − D, 0)/c(v·) + D·N1+(v·)/c(v·) · P_cont(w)

    A document's first token (no context) and tokens after an unseen
    context score P_cont directly; a token never seen as a continuation
    anywhere (possible only for corpus-wide document-initial-only
    tokens) floors at continuation count 1 — both cases documented fixed
    dags, not epsilons. D = 0.75 is exactly representable in binary.

    Determinism contract: every count (c(v,w), c(v·), N1+(v·), N1+(·w),
    |bigram types|) is an exact integer aggregate; the probability is one
    fixed IEEE double dag over them; log rounds to 9 decimals and per-doc
    sums accumulate as DECIMAL(28,12) — the bigram scorer's contract.

    Scale shape: identical to the bigram scorer (posexplode + per-doc lag
    window + three map-side-combined count shuffles) plus ONE extra
    aggregate over the bigram-type table (context/continuation type
    counts) — all keyed on vocabulary, joined back broadcast by default.

    r14 note: materializing the bigram-type table ``c2`` here (tracked
    session-scoped checkpoint, so ctx/cont/btot derive from the
    materialized rows instead of each broadcast build replaying the
    corpus explode + lag-window sort — the captured before-plan holds
    that subtree FIVE times) was tried and REVERTED on measurement:
    quiet-host floors read wall 1.45 → 1.75s / CPU 9.0 → 10.5 cpu-s
    AGAINST the checkpoint at sf0.1 (a contended earlier round had
    suggested +8%; the quiet interleaved A/B reversed it). AQE runtime
    stage reuse serves the shared explode/window/count exchanges across
    the derived aggregates, so the eager checkpoint only adds blocking
    jobs — the same null/negative pattern as the HITS, PQ and
    bigram-scorer checkpoint rejections."""
    from pyspark.sql import Window

    occ = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    occ = occ.withColumn("prev", F.lag("tok").over(w))

    big = occ.where(F.col("prev").isNotNull())
    c2 = big.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("c2"))
    ctx = c2.groupBy("prev").agg(
        F.sum("c2").alias("cprev"), F.count(F.lit(1)).alias("n1fw")
    )
    cont = c2.groupBy("tok").agg(F.count(F.lit(1)).alias("n1bw"))
    btot = c2.agg(F.count(F.lit(1)).alias("b"))

    maybe_b = F.broadcast if broadcast_vocab else (lambda x: x)
    d = F.lit(discount)
    pcont = (
        F.coalesce(F.col("n1bw"), F.lit(1)).cast("double")
        / F.col("b").cast("double")
    )
    cprev_d = F.col("cprev").cast("double")
    pkn = (
        F.greatest(
            F.coalesce(F.col("c2"), F.lit(0)).cast("double") - d, F.lit(0.0)
        )
        / cprev_d
        + d * F.col("n1fw").cast("double") / cprev_d * pcont
    )
    scored = (
        occ.join(maybe_b(cont), "tok", "left")
        .join(
            maybe_b(c2.select(F.col("prev").alias("__p2"),
                              F.col("tok").alias("__t2"), "c2")),
            (F.col("prev") == F.col("__p2")) & (F.col("tok") == F.col("__t2")),
            "left",
        )
        .join(maybe_b(ctx.select(F.col("prev").alias("__px"),
                                 "cprev", "n1fw")),
              F.col("prev") == F.col("__px"), "left")
        .crossJoin(F.broadcast(btot))
        .withColumn(
            "__logp",
            F.round(
                F.log(
                    F.when(
                        F.col("prev").isNull() | F.col("cprev").isNull(), pcont
                    ).otherwise(pkn)
                ),
                9,
            ),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("__logp").cast("decimal(28,12)")).alias("__sum"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            (
                F.col("__sum").cast("double") / F.col("n_tokens").cast("double")
            ).alias("avg_kn_logprob"),
        )
    )


def winnowing_overlap_pairs(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    portable: bool = False,
    hot_df_cap: int = 50,
    threshold: float = 0.2,
):
    """MOSS-style overlap detection from :func:`winnowing_fingerprints`
    (Schleimer et al. 2003 §4): document pairs sharing selected k-gram
    window minima, scored by the overlap coefficient
    ``shared / min(|A|, |B|)`` and filtered at ``threshold``.

    Scale shape: the candidate join keys on the FINGERPRINT (equi-join
    over the exploded fingerprint table, never doc×doc), with
    stop-fingerprints (appearing in more than ``hot_df_cap`` documents —
    boilerplate) removed by a broadcast anti-join BEFORE the join can
    square them — the standard MOSS cut. The fingerprint arrays are
    materialized through a session-scoped localCheckpoint first: inlined
    under explode, the md5-in-HOF winnowing expression leaves whole-stage
    codegen and runs interpreted (measured 100s+ vs ~2s at sf0.1 — the
    repo-wide interpreted-Generate rule).

    Returns (a_id, b_id, n_fp_a, n_fp_b, shared_fp, overlap)."""
    from polars_numba_spark.plans.checkpoint import session_scoped_checkpoint

    fp = session_scoped_checkpoint(
        winnowing_fingerprints(
            df, text_col=text_col, id_col=id_col, k=k, w=w, portable=portable
        )
    )
    ex = fp.where(F.size("fingerprints") > 0).select(
        F.col("id").alias("doc_id"),
        F.size("fingerprints").alias("n_fp"),
        F.explode("fingerprints").alias("f"),
    )
    hot = (
        ex.groupBy("f")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > hot_df_cap)
        .select("f")
    )
    exf = ex.join(F.broadcast(hot), "f", "left_anti")
    a = exf.select(
        F.col("doc_id").alias("a_id"), F.col("n_fp").alias("n_fp_a"), "f"
    )
    b = exf.select(
        F.col("doc_id").alias("b_id"), F.col("n_fp").alias("n_fp_b"), "f"
    )
    shared = (
        a.join(b, "f")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id", "n_fp_a", "n_fp_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
    )
    overlap = F.col("shared_fp").cast("double") / F.least(
        "n_fp_a", "n_fp_b"
    ).cast("double")
    return shared.select(
        "a_id",
        "b_id",
        F.col("n_fp_a").cast("int").alias("n_fp_a"),
        F.col("n_fp_b").cast("int").alias("n_fp_b"),
        "shared_fp",
        overlap.alias("overlap"),
    ).where(F.col("overlap") >= threshold)


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set. Two documents that are token-permutations of each other get
    the same fingerprint — the classic shingle-free near-dup bucket key.
    NULL text → NULL fingerprint (concat_ws would silently coalesce the
    null token array to '', colliding every failed fetch into the
    md5('')-bucket — and diverging from SQL md5(NULL) semantics)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull(), F.md5(F.concat_ws(" ", distinct_tokens(col)))
    )


def quality_features(col: Column | str) -> dict[str, Column]:
    """Quality-scoring features: lengths, punctuation/digit density,
    stopword ratio, mean token length."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    toks = tokens(col)
    n_tokens = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^A-Za-z0-9\s]"), 0))
    n_digit = F.size(F.regexp_extract_all(c, F.lit(r"[0-9]"), 0))
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), F.array([F.lit(w) for w in STOPWORDS["en"]])))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": n_punct.cast("double") / n_chars,
        "digit_ratio": n_digit.cast("double") / n_chars,
        "stopword_hits": n_stop,
        "mean_token_len": n_chars.cast("double") / n_tokens,
    }


def quality_score(col: Column | str) -> Column:
    """Composite [0,1]-ish quality score. The exact formula is arbitrary but
    frozen (the oracle embeds it): rewards stopword presence and moderate
    token length, penalizes punctuation/digit density."""
    f = quality_features(col)
    return (
        F.least(f["stopword_hits"].cast("double") / 5.0, F.lit(1.0)) * 0.4
        + F.when((f["mean_token_len"] >= 3.0) & (f["mean_token_len"] <= 10.0), 0.3).otherwise(0.0)
        + F.greatest(F.lit(0.0), F.lit(0.3) - f["punct_ratio"] * 3.0 - f["digit_ratio"] * 1.5)
    )


def language_scores(col: Column | str) -> dict[str, Column]:
    """Distinct-token hit count against each language's stopword list."""
    d = F.array_distinct(tokens(col))
    return {
        lang: F.size(F.array_intersect(d, F.array([F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }


def language_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax stopword-hit count in LANG_ORDER
    (first max wins), 'und' when no list scores > 0."""
    scores = language_scores(col)
    best = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


# The same heuristics as DuckDB SQL fragments, for oracle construction.

def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


SQL_TOKENS = "string_split_regex(trim(lower({c})), '\\s+')"
SQL_TOKEN_COUNT = f"length({SQL_TOKENS})"
SQL_DISTINCT_TOKENS = f"list_sort(list_distinct({SQL_TOKENS}))"
SQL_FINGERPRINT = f"md5(list_aggregate({SQL_DISTINCT_TOKENS}, 'string_agg', ' '))"


SQL_QUALITY = (
    "least(length(list_intersect(list_distinct({t}), "
    "['the','a','and','of','to','in','is','it','that','for'])) / 5.0, 1.0) * 0.4"
    " + CASE WHEN (CAST(length({c}) AS DOUBLE) / length({t})) >= 3.0"
    "        AND (CAST(length({c}) AS DOUBLE) / length({t})) <= 10.0"
    "   THEN 0.3 ELSE 0.0 END"
    " + greatest(0.0, 0.3"
    "   - (CAST(length(regexp_extract_all({c}, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length({c})) * 3.0"
    "   - (CAST(length(regexp_extract_all({c}, '[0-9]')) AS DOUBLE) / length({c})) * 1.5)"
)


def sql_quality(c: str) -> str:
    """The frozen quality formula as a DuckDB fragment (oracle parity)."""
    return SQL_QUALITY.format(c=c, t=SQL_TOKENS.format(c=c))


def sql_lang_hits(c: str, lang: str) -> str:
    return (
        f"length(list_intersect(list_distinct({SQL_TOKENS.format(c=c)}), "
        f"{_sql_list(STOPWORDS[lang])}))"
    )


def sql_language_id(c: str) -> str:
    hits = {lang: sql_lang_hits(c, lang) for lang in LANG_ORDER}
    best = "greatest(" + ", ".join(hits[lang] for lang in LANG_ORDER) + ")"
    expr = "'und'"
    for lang in reversed(LANG_ORDER):
        expr = (
            f"CASE WHEN {hits[lang]} = {best} AND {best} > 0 "
            f"THEN '{lang}' ELSE {expr} END"
        )
    return expr


def word_bigrams(col: Column | str) -> Column:
    """NON-distinct word bigrams ('w1 w2' strings) — the repetition unit.
    Unlike :func:`token_shingles` (distinct, for containment checks),
    duplicates are preserved: repetition scoring needs the multiset."""
    t = tokens(col)
    size = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(1), size - 1),
        lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
    )
    return F.when(size >= 2, grams).otherwise(F.array().cast("array<string>"))


def repetition_stats(df, text_col: str = "text", id_col: str = "doc_id"):
    """Repeated-content quality signals per document (the Gopher/C4-style
    repetition filters): ``token_rep_frac`` = fraction of tokens that are
    repeats of an earlier token (1 − distinct/total), and
    ``top_bigram_frac`` = share of all word bigrams taken by the most
    frequent one. High values flag boilerplate / keyword-stuffed / looping
    documents that poison training data.

    Scale shape: the token fractions are pure per-row expressions
    (scan-linear, whole-stage codegen). The bigram mode can't be a per-row
    expression without an O(distinct²) higher-order loop, so it's the
    explode→count→max/sum idiom: two map-side-combined aggregations
    sharing one shuffle key (the doc id). Documents with <2 tokens get
    ``top_bigram_frac`` 0.0 via the left join.
    """
    t = tokens(text_col)
    base = df.select(F.col(id_col).alias("id"), t.alias("__t"))
    per_doc = base.select(
        "id",
        F.size("__t").cast("long").alias("n_tokens"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("__t")).cast("double")
            / F.size("__t").cast("double")
        ).alias("token_rep_frac"),
    )
    size = F.size("__t")
    grams = F.transform(
        F.sequence(F.lit(1), size - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, 2)),
    )
    bg = base.where(size >= 2).select("id", F.explode(grams).alias("__bg"))
    counts = bg.groupBy("id", "__bg").agg(F.count(F.lit(1)).alias("__c"))
    agg = counts.groupBy("id").agg(
        F.max("__c").alias("__top"), F.sum("__c").alias("__n_bg")
    )
    return (
        per_doc.join(agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "token_rep_frac",
            F.coalesce(
                F.col("__top").cast("double") / F.col("__n_bg").cast("double"),
                F.lit(0.0),
            ).alias("top_bigram_frac"),
        )
    )


def unigram_logprob_scores(
    df, text_col: str = "text", id_col: str = "doc_id", broadcast_vocab: bool = True
):
    """Language-model quality proxy: per-document mean unigram
    log-likelihood under the corpus's OWN unigram distribution (the
    CCNet-style "perplexity bucket" signal, with the corpus standing in for
    the external LM — fluent/typical documents score high, gibberish and
    vocabulary-stuffed outliers score low).

    Cross-engine determinism: ``ln`` is not IEEE-correctly-rounded, so raw
    log terms could differ from another engine in the last ulp and poison
    an order-insensitive hash. Each token's log-probability is therefore
    ROUNDED to 9 decimals and accumulated as an exact DECIMAL — the same
    contract as the centroid operator — making the per-doc sum
    order-independent and bit-identical across engines.

    Scale shape: vocabulary counts are one map-side-combined shuffle on the
    token; the vocabulary joins back broadcast by default; the per-doc
    aggregation shuffles on the doc id. Three linear passes, no all-pairs,
    no Python. At web scale a raw-token vocabulary can reach 10⁸+ rows —
    too big to broadcast: pass ``broadcast_vocab=False`` for a shuffle
    (sort-merge) join on the token instead, or pre-truncate the vocabulary
    (rare tokens share one OOV bucket) to keep the broadcast path.
    """
    occurrences = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("__tok")
    )
    vocab = occurrences.groupBy("__tok").agg(F.count(F.lit(1)).alias("__cnt"))
    # total corpus tokens carried in-plan as a broadcast 1-row aggregate —
    # NOT a global Window.partitionBy(), which would funnel the whole
    # vocabulary through a single partition at web-scale vocabularies.
    total = vocab.agg(F.sum("__cnt").alias("__total"))
    vocab = vocab.crossJoin(F.broadcast(total)).withColumn(
        "__logp",
        F.round(
            F.log(F.col("__cnt").cast("double") / F.col("__total").cast("double")), 9
        ),
    )
    vocab_side = F.broadcast(vocab) if broadcast_vocab else vocab
    scored = occurrences.join(vocab_side, "__tok")
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("__logp").cast("decimal(28,12)")).alias("__sum"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            (F.col("__sum").cast("double") / F.col("n_tokens").cast("double")).alias(
                "avg_logprob"
            ),
        )
    )


# PII scrubbing (the C4-style pre-training hygiene pass). Patterns are
# deliberately restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repetition — no
# backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}[-.]\d{3}[-.]\d{4}"


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Match counts per PII class (the report side of the scrub)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "n_emails": F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)),
        "n_phones": F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), 0)),
    }


def redact_pii(col: Column | str) -> Column:
    """Replace emails then phone numbers with typed placeholder tags —
    pure codegen (two regexp_replace passes), scan-linear."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def tfidf_top_terms(df, text_col="text", id_col="doc_id", top_k=3):
    """Top-``top_k`` TF-IDF terms per document: term frequency × ln(N/df),
    the classic keyword/topic signal a curation pipeline uses for corpus
    inspection and per-domain term drift. Returns
    ``(id, term, rank, tf, tfidf)``, rank 1-based, score rounded to 9
    decimals BEFORE ranking so the ordering itself is rounding-stable
    cross-engine (ties break on the term string).

    Shape: one explode pass → (doc, term) counts (map-side combined) →
    document frequencies derived FROM that aggregate (no second pass over
    the corpus) → equi-join on the term → per-document top-k window. The
    corpus size joins in as a broadcast 1-row aggregate — same pattern as
    :func:`unigram_logprob_scores`, never a global window. All shuffles
    key on (doc, term), term, or doc — scale-stable; the vocabulary-wide
    join is the standard inverted-index shape (AQE skew-split covers hot
    stopword terms).
    """
    from pyspark.sql import DataFrame, Window  # noqa: F401 (DataFrame for type)

    occ = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = occ.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(
                    F.col("__n_docs").cast("double") / F.col("df").cast("double")
                ),
                9,
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("id").alias(id_col),
            "term",
            F.col("rank").cast("int").alias("rank"),
            "tf",
            "tfidf",
        )
    )


def bigram_logprob_scores(
    df, text_col: str = "text", id_col: str = "doc_id", lam: float = 0.7,
    broadcast_vocab: bool = True,
):
    """Interpolated bigram language-model quality proxy: per-document mean
    of ``log(λ·P(t|prev) + (1-λ)·P(t))`` under the corpus's own counts —
    the KenLM-shaped upgrade of :func:`unigram_logprob_scores` (word order
    now matters: shuffled text keeps its unigram score but craters here).
    A document's FIRST token has no context and scores unigram-only.

    Same determinism contract as the unigram scorer: every probability is
    assembled from identical double arithmetic in both engines, the log
    rounds to 9 decimals per token, and the per-doc sum accumulates as an
    exact DECIMAL (order-independent).

    Scale shape: positions via posexplode; context via lag() over the
    per-doc window (shuffles on the doc id — reused by the final per-doc
    aggregation); bigram/unigram/context counts are three map-side-
    combined shuffles on their keys, joined back broadcast by default
    (``broadcast_vocab=False`` for sort-merge joins when the bigram
    vocabulary outgrows a broadcast). Linear passes only.

    r14 note: materializing the unigram/bigram count tables here (tracked
    checkpoints, ``cprev`` derived as ``SUM(c2) GROUP BY prev``) was tried
    and REVERTED on measurement — CPU floor 10.6 → 15.9 cpu-s (+50%) and
    wall 2.88 → 3.36s at sf0.1: AQE runtime stage reuse already serves the
    shared explode/window exchanges across the derived aggregates' plans,
    so the checkpoint only added eager blocking jobs plus vocab-table
    serialization (the same null/negative pattern as the HITS and PQ
    checkpoint rejections; the Kneser-Ney scorer's ``c2`` checkpoint was
    rejected the same way on a quiet-host interleaved A/B)."""
    from pyspark.sql import Window

    occ = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    occ = occ.withColumn("prev", F.lag("tok").over(w))

    uni = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    total = uni.agg(F.sum("c1").alias("ctot"))
    uni = uni.crossJoin(F.broadcast(total)).select(
        "tok",
        (F.col("c1").cast("double") / F.col("ctot").cast("double")).alias("pu"),
    )
    big = occ.where(F.col("prev").isNotNull())
    c2 = big.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("c2"))
    cp = big.groupBy("prev").agg(F.count(F.lit(1)).alias("cprev"))
    c2 = c2.join(cp, "prev").select(
        "prev",
        F.col("tok").alias("btok"),
        (F.col("c2").cast("double") / F.col("cprev").cast("double")).alias("pb"),
    )
    maybe_b = F.broadcast if broadcast_vocab else (lambda x: x)
    scored = (
        occ.join(maybe_b(uni), "tok")
        .join(
            maybe_b(c2),
            (occ.prev == c2.prev) & (occ.tok == c2.btok),
            "left",
        )
        .withColumn(
            "__p",
            F.when(
                F.col("pb").isNotNull(),
                F.lit(lam) * F.col("pb") + F.lit(1.0 - lam) * F.col("pu"),
            ).otherwise(F.col("pu")),
        )
        .withColumn("__logp", F.round(F.log("__p"), 9))
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("__logp").cast("decimal(28,12)")).alias("__sum"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            (
                F.col("__sum").cast("double") / F.col("n_tokens").cast("double")
            ).alias("avg_bigram_logprob"),
        )
    )


def bm25_topk(
    df,
    queries: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 full-text retrieval: top-``k`` documents per query under the
    Okapi BM25 ranking function (Robertson & Spärck Jones) — the retrieval
    face a curation pipeline uses for search-based decontamination ("which
    training docs would this eval question retrieve?") and corpus QA.
    Returns ``(query_id, doc_id, rank, n_terms, score)``; ``n_terms`` is
    the number of matched query terms, rank 1-based by (score desc, doc_id)
    so ordering is deterministic under ties.

    Cross-engine hash-exact: each term's contribution is rounded to 9
    decimals, then accumulated as DECIMAL(28,12) — the same pattern as
    :func:`unigram_logprob_scores` — so sum order cannot perturb the score
    or the ranking.

    Shape (the classic distributed inverted-index plan): one explode pass →
    (doc, term) postings with map-side combine; document length and
    document frequency both DERIVED from that aggregate (no second corpus
    pass); the corpus-size/avgdl stats join in as a broadcast 1-row
    aggregate; the query term list (a few dozen rows) broadcasts onto the
    postings equi-join, so the only shuffles key on (doc, term), term, or
    query — scale-stable, no cartesian anywhere. Per-query top-k is a
    window over at most |queries| partitions of per-doc partial scores
    (AQE handles the hot-term skew the stopword-free synthetic vocabulary
    doesn't have; a production corpus would pre-drop stopwords here).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    qrows = sorted(
        {(qid, t) for qid, qtext in queries for t in py_casefolded(qtext).split()}
    )
    qdf = spark.createDataFrame(qrows, "query_id string, term string")

    occ = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = occ.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "__avgdl"
        ),
    )

    idf = F.log(
        F.lit(1.0)
        + (F.col("__n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / F.col("__avgdl"))
    )
    contrib = F.round(idf * ((F.col("tf") * F.lit(k1 + 1.0)) / denom), 9)

    # Join ORDER is the plan (guide §2.3 "aggregate/filter before you
    # shuffle"): the r1-r13 spelling attached dl and dfreq to EVERY
    # posting row and only then applied the broadcast query-term filter —
    # two full-postings-mass shuffle joins feeding rows that were about
    # to be dropped (r14 profile: bm25_topk burned 72 CPU-s at sf0.1,
    # the single largest CPU sink in the text family). Filtering the
    # postings against the broadcast query terms FIRST leaves a
    # few-rows-per-matched-(query,doc,term) frame, and dl/dfreq attach to
    # that. Inner equi-joins commute, every surviving row and every
    # per-row value is identical — bit-exact, oracle re-verified.
    scored = (
        tf.join(F.broadcast(qdf), "term")
        .join(dl, "id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("__c", contrib)
        .groupBy("query_id", "id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.col("__c").cast("decimal(28,12)")).alias("__sum"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sum").desc(), F.col("id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias(id_col),
            F.col("rank").cast("int").alias("rank"),
            F.col("n_terms").cast("int").alias("n_terms"),
            F.col("__sum").cast("double").alias("score"),
        )
    )


# --- Gopher-rule quality filter ---------------------------------------------

# Frozen thresholds (Rae et al. 2021, "Scaling Language Models: ... Gopher",
# appendix A1.1 — the word-level subset; the line-level rules need multi-line
# documents). Part of the operator contract: the oracle embeds the same
# numbers via gopher_sql_exprs().
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_quality_flags(df, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher-style document quality filter (the word-level rule subset):
    word count bounds, mean word length bounds, alphabetic-word fraction,
    symbol-to-word ratio (``#`` and ellipses), and minimum distinct
    stopword hits, plus the conjunctive ``keep`` verdict. Pure codegen
    column expressions over one scan — no shuffle, no UDF: the shape that
    streams over 100 TB of documents at parquet-scan speed. Returns
    ``(id, n_words, mean_word_len, frac_alpha_words, symbol_word_ratio,
    stopword_hits, keep)``."""
    c = F.col(text_col)
    toks = tokens(text_col)
    n_words = F.size(toks)
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_len = sum_len.cast("double") / n_words.cast("double")
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    frac_alpha = n_alpha.cast("double") / n_words.cast("double")
    n_sym = F.size(
        F.regexp_extract_all(c, F.lit(r"#|\.\.\.|…"), 0)
    )
    sym_ratio = n_sym.cast("double") / n_words.cast("double")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array([F.lit(w) for w in STOPWORDS["en"]]),
        )
    )
    keep = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN)
        & (frac_alpha >= GOPHER_MIN_ALPHA_FRAC)
        & (sym_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (n_stop >= GOPHER_MIN_STOPWORD_HITS)
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_words.cast("int").alias("n_words"),
        mean_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        sym_ratio.alias("symbol_word_ratio"),
        n_stop.cast("int").alias("stopword_hits"),
        keep.alias("keep"),
    )


def gopher_sql_exprs(c: str) -> dict[str, str]:
    """DuckDB twins of every gopher_quality_flags feature + the keep
    verdict, keyed by output column — single-sourced thresholds so the
    Spark operator and the oracle cannot desync."""
    t = SQL_TOKENS.format(c=c)
    n_words = f"length({t})"
    mean_len = (
        f"CAST(list_aggregate(list_transform({t}, w -> length(w)), 'sum')"
        f" AS DOUBLE) / CAST({n_words} AS DOUBLE)"
    )
    frac_alpha = (
        f"CAST(length(list_filter({t}, w -> regexp_matches(w, '[A-Za-z]')))"
        f" AS DOUBLE) / CAST({n_words} AS DOUBLE)"
    )
    sym_ratio = (
        f"CAST(length(regexp_extract_all({c}, '#|\\.\\.\\.|…'))"
        f" AS DOUBLE) / CAST({n_words} AS DOUBLE)"
    )
    n_stop = (
        f"length(list_intersect(list_distinct({t}), "
        f"{_sql_list(STOPWORDS['en'])}))"
    )
    keep = (
        f"({n_words} >= {GOPHER_MIN_WORDS} AND {n_words} <= {GOPHER_MAX_WORDS}"
        f" AND ({mean_len}) >= {GOPHER_MIN_MEAN_WORD_LEN!r}"
        f" AND ({mean_len}) <= {GOPHER_MAX_MEAN_WORD_LEN!r}"
        f" AND ({frac_alpha}) >= {GOPHER_MIN_ALPHA_FRAC!r}"
        f" AND ({sym_ratio}) <= {GOPHER_MAX_SYMBOL_RATIO!r}"
        f" AND {n_stop} >= {GOPHER_MIN_STOPWORD_HITS})"
    )
    return {
        "n_words": f"CAST({n_words} AS INTEGER)",
        "mean_word_len": mean_len,
        "frac_alpha_words": frac_alpha,
        "symbol_word_ratio": sym_ratio,
        "stopword_hits": f"CAST({n_stop} AS INTEGER)",
        "keep": keep,
    }


def phrase_search(
    df,
    phrases: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
):
    """Exact PHRASE retrieval over a positional inverted index — the
    adjacency-aware complement to :func:`bm25_topk` (bag-of-words ranks
    "table part" and "part table" identically; phrase search does not).
    Returns ``(phrase_id, doc_id, rank, n_occ)``: the top-``k`` documents
    per phrase by occurrence count (rank 1-based, ties broken by doc_id).

    Shape — the one-join spelling, NOT an L-way self-join: posexplode
    yields (doc, term, pos) postings once; the broadcast query table
    carries (phrase, term, offset) rows; joining on term and grouping by
    (phrase, doc, pos - offset) counts how many offsets matched at each
    candidate start, and a start is a true occurrence iff ALL L offsets
    matched (count == L — correct even for phrases with repeated tokens,
    since (start, offset) determines the position, so each matched
    offset contributes exactly one row). Shuffles key on term then on
    (phrase, doc, start); phrase length never multiplies the plan depth.
    At 100 TB the postings join inherits AQE's skew handling on hot
    terms exactly as BM25 does."""
    from pyspark.sql import Window

    spark = df.sparkSession
    qrows = [
        (pid, term, off)
        for pid, ptext in phrases
        for off, term in enumerate(py_casefolded(ptext).split())
    ]
    qdf = spark.createDataFrame(qrows, "phrase_id string, term string, off int")
    plen = spark.createDataFrame(
        [(pid, len(py_casefolded(ptext).split())) for pid, ptext in phrases],
        "phrase_id string, plen int",
    )
    pos = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "term"),
    )
    starts = pos.join(F.broadcast(qdf), "term").select(
        "phrase_id", "id", (F.col("pos") - F.col("off")).alias("start")
    )
    occ = starts.groupBy("phrase_id", "id", "start").agg(
        F.count(F.lit(1)).alias("nm")
    )
    hits = (
        occ.join(F.broadcast(plen), "phrase_id")
        .where(F.col("nm") == F.col("plen"))
        .groupBy("phrase_id", "id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    w = Window.partitionBy("phrase_id").orderBy(
        F.col("n_occ").desc(), F.col("id")
    )
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "phrase_id",
            F.col("id").alias("doc_id"),
            "rank",
            "n_occ",
        )
    )
