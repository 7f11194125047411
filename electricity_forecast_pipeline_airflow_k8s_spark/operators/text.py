"""Text-analysis operators for LLM training-data pipelines (BASELINE.json
north-star extension; build-plan phase 7).

All pure Column expressions (JVM-side, whole-stage codegen) -- no Python
UDFs in any hot path. Designed for the `documents(doc_id, text, lang,
source, n_chars)` table but column names are parameters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import reuse
from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
    portable_round,
)

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Real pipelines plug in larger lexicons; the operator shape
# (score per language -> argmax) is what matters.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "auf"),
    "es": ("el", "la", "de", "y", "es", "en", "un", "una", "que", "por"),
    "fr": ("le", "la", "de", "et", "est", "en", "un", "une", "que", "pour"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (BPE-ish regex split: runs of whitespace).
    Empty tokens are filtered: split of empty/whitespace-only text yields
    [''] which would otherwise count as a phantom token in every stat."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc token/char statistics (token counting + doc length)."""
    t = tokens(text_col)
    return df.select(
        id_col,
        F.length(text_col).alias("n_chars"),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_uniq_tokens"),
        # try_divide: empty docs have 0 tokens; ANSI mode would throw
        portable_round(
            F.try_divide(F.length(text_col) - F.size(t) + 1, F.size(t)), 4
        ).alias("avg_token_len"),
    )


def stopword_hits(text_col: str, words: tuple[str, ...]) -> Column:
    """Count of tokens that are in ``words`` -- a filter over the token
    array, evaluated JVM-side."""
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(text_col), lambda x: F.array_contains(lit_words, x)))


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic quality heuristics: length, lexical diversity,
    stopword density, digit/punct noise. Composite in [0,1]-ish; the exact
    formula is less important than each component being a pushdown-friendly
    native expression."""
    t = tokens(text_col)
    n_tok = F.size(t)
    # try_divide: 0-token docs yield NULL ratios (ANSI mode would throw)
    uniq_ratio = F.try_divide(F.size(F.array_distinct(t)), n_tok)
    stop_ratio = F.try_divide(stopword_hits(text_col, STOPWORDS["en"]), n_tok)
    digit_ratio = (
        F.length(F.regexp_replace(F.col(text_col), r"[^0-9]", "")) /
        F.greatest(F.length(text_col), F.lit(1))
    )
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    score = 0.4 * len_score + 0.4 * uniq_ratio + 0.2 * F.least(
        stop_ratio * 5, F.lit(1.0)
    ) - 0.5 * digit_ratio
    return df.select(
        id_col,
        n_tok.alias("n_tokens"),
        portable_round(uniq_ratio, 4).alias("uniq_ratio"),
        portable_round(stop_ratio, 4).alias("stopword_ratio"),
        portable_round(digit_ratio, 4).alias("digit_ratio"),
        portable_round(score, 4).alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language heuristic: per-language hit counts -> argmax
    (ties -> lexicographically first; 'und' = undetermined when no hits)."""
    hit_cols = [
        stopword_hits(text_col, words).alias(f"hits_{lang}")
        for lang, words in sorted(STOPWORDS.items())
    ]
    scored = df.select(id_col, *hit_cols)
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    # reverse order so earlier languages win ties
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"hits_{lang}") == best) & (best > 0), lang
        ).otherwise(pred)
    return scored.select(id_col, *[f"hits_{lang}" for lang in langs], pred.alias("lang_pred"))


def vocabulary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary with frequencies: explode tokens -> hash agg
    (the word-count shape; map-side combined, scales with distinct terms).
    """
    tok = df.select(F.explode(tokens(text_col)).alias("token"))
    return tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))


def tf_idf(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-(doc, term) TF-IDF: tf = count(term in doc) / len(doc);
    idf = ln(N / df_t). Three hash aggregations and a shuffle join on the
    token key -- no UDFs, and no forced broadcast: the document-frequency
    table is vocabulary-sized (unbounded at corpus scale), so Catalyst's
    size-based broadcast decision applies instead of a hint that would
    pin gigabytes to the driver."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    term_counts = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tc"))
    doc_lens = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    doc_freq = term_counts.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(id_col).distinct().count()
    return (
        term_counts.join(doc_lens, id_col)
        .join(doc_freq, "token")
        .select(
            id_col,
            "token",
            portable_round(
                (F.col("tc") / F.col("dl")) * F.log(F.lit(float(n_docs)) / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )


def fingerprint_expr(text_col: str = "text") -> Column:
    """md5 over whitespace-normalized lowercase text -- the shared
    content-identity used by both fingerprint() and dedup.exact_dedup."""
    return F.md5(F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (content-defined identity for exact dedup across formatting noise)."""
    return df.select(id_col, fingerprint_expr(text_col).alias("fp"))


def bpe_token_estimate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LLM token-budget estimation: BPE-ish regex pieces + a
    chars-per-token subword heuristic, all JVM-side.

    Text splits into word/number runs and single punctuation marks (the
    piece structure BPE vocabularies build on); each piece contributes
    ceil(len / 4) estimated subword tokens (~4 chars/token, the usual
    budgeting rule). Integer arithmetic only, so the estimate is
    bit-identical across engines."""
    pieces = F.regexp_extract_all(
        F.col(text_col), F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
    )
    est = F.aggregate(
        pieces,
        F.lit(0).cast("long"),
        lambda acc, p: acc
        + F.floor((F.length(p) + 3) / 4).cast("long"),
    )
    return df.select(
        id_col,
        F.size(pieces).alias("n_pieces"),
        est.alias("est_bpe_tokens"),
    )


def winnow_posts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """DISTINCT (id, fingerprint) postings of the winnowing scheme via
    row-explode + frame-min -- the LINEAR formulation (one md5 per gram,
    one windowed min per position). The earlier array-comprehension form
    (slice+array_min inside transform) re-evaluated the whole gram-hash
    array per window because higher-order lambdas are interpreted with no
    common-subexpression elimination: O(grams x window) md5+regexp per
    doc, measured ~1 s per 300-char doc -- the same lesson the DuckDB
    oracle recorded ("~8 min vs seconds", querydefs/textops.py). Window
    partitions by document, so parallelism is doc-count."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    grams = (
        df.select(F.col(id_col), norm.alias("_t"))
        .filter(F.length("_t") >= k)
        .select(
            id_col,
            "_t",
            F.explode(
                F.sequence(F.lit(1), F.length("_t") - (k - 1))
            ).alias("_i"),
        )
        .select(
            id_col,
            "_i",
            F.md5(F.col("_t").substr(F.col("_i"), F.lit(k))).alias("_h"),
        )
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("_i")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        grams.select(
            id_col,
            F.min("_h").over(w).alias("fp"),
            F.count(F.lit(1)).over(w).alias("_w"),
        )
        .filter(F.col("_w") == window)
        .select(id_col, "fp")
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing): hash every
    k-char gram of the normalized text, slide a ``window``-wide frame
    over the hash sequence, keep each frame's minimum, dedupe.

    The standard local fingerprinting scheme (Schleimer et al.,
    SIGMOD'03): any shared substring of length >= k + window - 1 between
    two documents yields at least one shared fingerprint, so matching
    fingerprints finds partial overlap/plagiarism, not just whole-doc
    equality like :func:`fingerprint`. All array expressions (sequence /
    transform / slice / array_min) -- JVM-side per row, no shuffle, no
    explosion of the corpus; md5 hex keeps the hash engine-portable and
    its lexicographic min well-defined everywhere.

    Output is flat: the fingerprint count and an md5 digest over the
    sorted fingerprint set (set identity as one scalar)."""
    posts = winnow_posts(df, text_col, id_col, k, window)
    agg = posts.groupBy(id_col).agg(
        F.sort_array(F.collect_list("fp")).alias("_fps")
    )
    # left join back: docs too short for any window keep an empty set
    base = df.select(id_col)
    return (
        base.join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.size("_fps"), F.lit(0)).cast("int").alias(
                "n_fingerprints"
            ),
            F.md5(
                F.concat_ws(",", F.coalesce("_fps", F.array().cast("array<string>")))
            ).alias("fp_digest"),
        )
    )


def word_ngrams(text_col: Column | str, n: int) -> Column:
    """ALL word n-grams (with multiplicity, unlike
    :func:`~electricity_forecast_pipeline_airflow_k8s_spark.operators.dedup.shingles`)
    as an array column -- repetition analysis needs the counts, not the
    set. Documents with fewer than n tokens yield an empty array."""
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.arrays import let

    def body(t):
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
                lambda i: F.array_join(F.slice(t, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(tokens(text_col), body)


def _top_ngram_char_frac(text_col: str, n: int) -> Column:
    """Fraction of document characters covered by the single most frequent
    word n-gram (count * gram length / doc length) -- the Gopher
    repetition signal (Rae et al. 2021, 'rep. top n-gram char frac').

    Argmax is deterministic: max by (count, then gram text), computed as
    array_max over (count, gram) structs. Pure array expressions per row
    (JVM-side, shuffle-free); the within-row O(distinct x total) compare
    is bounded by document length, never corpus size.

    Both the gram array and the argmax struct are let-bound: referenced
    unbound inside the HOF lambdas they are re-evaluated per array
    element (no CSE in interpreted lambdas), which re-tokenized the
    document once per DISTINCT GRAM -- the round-9 ledger-coverage
    closure caught this lane at ~180 s/sf0.1 (35x slower than the
    let-bound form)."""
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.arrays import let

    def with_grams(grams):
        # Argmax by (count, gram) via ONE run-length scan of the SORTED
        # gram array (round-11 optimization, guide §1.2 "per-task work"):
        # the previous form counted each DISTINCT gram with a full-array
        # F.filter -- O(distinct x total) interpreted-lambda compares per
        # row (~30k for a 100-token doc, x3 n-gram widths). Sorting makes
        # equal grams adjacent, so one O(total) pass with a constant-size
        # accumulator recovers every gram's exact count; updating on
        # ``run >= best_c`` while scanning in ascending gram order keeps
        # the max-count gram with the LARGEST text on ties -- exactly the
        # struct-max (count, gram) ordering of the old array_max form.
        top_expr = F.aggregate(
            F.array_sort(grams),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("c"),
                F.lit("").alias("g"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.when(
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
                    >= acc["c"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                )
                .otherwise(acc["c"])
                .alias("c"),
                F.when(
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
                    >= acc["c"],
                    x,
                )
                .otherwise(acc["g"])
                .alias("g"),
            ),
        )

        def with_top(top):
            frac = F.try_divide(
                top["c"] * F.length(top["g"]), F.length(F.col(text_col))
            )
            return F.when(
                F.size(grams) > 0, portable_round(frac, 4)
            ).otherwise(F.lit(0.0))

        return let(top_expr, with_top)

    return let(word_ngrams(text_col, n), with_grams)


def _dup_frac(parts: Column) -> Column:
    """1 - distinct/total over an array of parts (lines, paragraphs,
    tokens); 0.0 for empty/singleton part lists. let-bound: the parts
    expression (a split+trim+filter chain) is referenced four times."""
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.arrays import let

    def body(p):
        dup = F.try_divide(
            (F.size(p) - F.size(F.array_distinct(p))).cast("double"),
            F.size(p),
        )
        return F.when(F.size(p) > 0, portable_round(dup, 4)).otherwise(
            F.lit(0.0)
        )

    return let(parts, body)


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality rules per document (Rae et al.
    2021 §A1.1): duplicate line / paragraph / token fractions and the
    top-{2,3,4}-gram character fractions. Training pipelines drop
    documents above thresholds on these (e.g. top-2-gram frac > 0.2).

    Everything is per-row array arithmetic -- no shuffle, no UDF; the
    operator scales linearly with corpus bytes and parallelism follows
    the scan."""
    lines = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    paras = F.filter(
        F.transform(F.split(F.col(text_col), r"\n\n+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    return df.select(
        id_col,
        _dup_frac(lines).alias("dup_line_frac"),
        _dup_frac(paras).alias("dup_para_frac"),
        _dup_frac(tokens(text_col)).alias("dup_token_frac"),
        _top_ngram_char_frac(text_col, 2).alias("top2gram_char_frac"),
        _top_ngram_char_frac(text_col, 3).alias("top3gram_char_frac"),
        _top_ngram_char_frac(text_col, 4).alias("top4gram_char_frac"),
    )


# PII patterns: RE2/Java-regex-portable (no lookaround, no backtracking
# ambiguity) so Spark and any SQL oracle count identically.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "url": r"https?://[^\s]+",
    "phone": r"\+[0-9]{7,15}",
}


def pii_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII detection counts (email / IPv4 / URL / intl
    phone) -- the filtering signal a training pipeline uses to drop or
    redact documents before the corpus ships. regexp_count is JVM-side;
    patterns are chosen to behave identically under Java regex and RE2."""
    cols = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    total = None
    for name in PII_PATTERNS:
        c = F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[name]))
        total = c if total is None else total + c
    return df.select(id_col, *cols, total.alias("pii_total"))


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII redaction TRANSFORM (the counting in :func:`pii_stats` decides;
    this one rewrites): each PII family is regexp-replaced with its
    placeholder tag, in fixed dict order so nested matches (an IPv4 inside
    a URL, an email in a query string) resolve deterministically.
    ``n_redacted`` counts matches on the ORIGINAL text. Pure codegen
    string expressions -- no Python in the row path, patterns valid under
    both Java regex and RE2 (no backrefs/lookaround)."""
    out = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, F.lit(pat), F.lit(f"<{name.upper()}>"))
    total = None
    for pat in PII_PATTERNS.values():
        c = F.regexp_count(F.col(text_col), F.lit(pat))
        total = c if total is None else total + c
    return df.select(
        id_col,
        out.alias("redacted_text"),
        total.cast("int").alias("n_redacted"),
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-level Shannon entropy (bits), a standard
    corpus-quality signal: boilerplate/repetitive spam sits low, natural
    prose for alphabetic languages lands roughly 3.5-4.5 bits.

    Layout for scale: explode to (doc, char) then two hash aggregations.
    The first groupBy has full map-side combine, so the shuffle carries at
    most |alphabet| rows per document regardless of document length; the
    second reduces |alphabet| rows to one. No Python touches any row.
    """
    chars = df.select(
        F.col(id_col),
        F.length(text_col).alias("_n"),
        F.explode(F.regexp_extract_all(F.lower(text_col), F.lit(r"[\s\S]"), 0)).alias(
            "_ch"
        ),
    )
    counts = chars.groupBy(id_col, "_ch").agg(
        F.count(F.lit(1)).alias("_cnt"), F.first("_n").alias("_n")
    )
    p = F.col("_cnt") / F.col("_n")
    return (
        counts.groupBy(id_col)
        .agg(
            F.first("_n").alias("n_chars"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            (F.floor(-F.sum(p * F.log2(p)) * 1_000_000 + 0.5) / 1_000_000).alias(
                "entropy_bits"
            ),
        )
    )


def fuzzy_prefix_pairs(
    df: DataFrame,
    block_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocked fuzzy matching (entity-resolution shape): normalized
    30-character text prefixes compared by Levenshtein edit distance
    WITHIN blocking keys only; pairs within distance 18 survive. The pair
    space is sum(|block|^2), never corpus^2 -- the same blocking
    discipline as the embedding near-dup operator; levenshtein is a
    native JVM expression, so the whole comparison stays in codegen.

    At 100 TB: choose block keys so the largest block's pair count fits a
    task (lang x source here; add a length band or first-k-chars key to
    split hot blocks), and the equi-join on block keys is an ordinary
    shuffle join -- no crossJoin anywhere.
    """
    norm = F.substring(
        F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")),
        1,
        30,
    )
    d = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols], norm.alias("_p")
    )
    # round-11 (guide §2.5 input skew): the probe side inherits the SCAN's
    # partitioning, and a small corpus arrives as ONE split -- the whole
    # pair DP then runs on a single task (measured: the join+levenshtein
    # stage was single-threaded at sf0.1). Spread the probe side to the
    # cluster's parallelism; round-robin repartition of the narrow
    # (id, blocks, prefix) projection moves only bytes-per-doc, and at
    # real scale (many input splits) this exchange is moot-cost insurance.
    par = df.sparkSession.sparkContext.defaultParallelism
    a = d.repartition(par).alias("a")
    b = d.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    lev = F.levenshtein(F.col("a._p"), F.col("b._p"))
    out = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.{c}").alias(c) for c in block_cols],
            lev.alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= 18)
    )
    # round-11 (guide §1.2): a lineage cut on the survivor set.
    # Catalyst pushes the edit-distance filter into the join condition, so
    # the whole O(prefix^2)-per-pair DP sits below the caller's final
    # orderBy -- and the range partitioner's boundary-sampling job then
    # re-executes the join + DP a second time (measured: the sort tripled
    # the lane, 3.0 s -> 6.1 s at sf0.1). Survivors are the DEDUP-PAIR
    # output, orders of magnitude smaller than the candidate space (4.5 k
    # rows vs 318 k candidates at sf0.1), so materializing them once is
    # cheap at any scale.
    return reuse(out)


def bigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-bigram language-model score: the corpus
    itself is the model (self-supervised quality signal -- gibberish and
    boilerplate both sit far from the corpus-average log-probability).

    score = mean over the doc's char bigrams of log2 P(bigram), with
    P(bigram) = corpus_count(bigram) / corpus_total.

    Scale layout: the model is bounded by |alphabet|^2 rows no matter the
    corpus size, so the score join BROADCASTS it -- the exploded bigram
    stream is never shuffled for the join; the per-doc agg keeps map-side
    combine. Per-term log2 values are quantized at 1e-9 and decimal-summed
    so the mean is association-order free (the repo-wide exact-mean
    convention); log2(total) enters once, after aggregation.
    """
    # substring-windowed bigrams (codepoint-based in both Spark and
    # DuckDB), then an IMMEDIATE (doc, bigram) pre-aggregation: map-side
    # combine caps every later shuffle/join at doc x distinct-bigrams
    # (alphabet^2-bounded) instead of total corpus characters.
    bigrams = F.expr(
        "transform(sequence(1, length(_t) - 1), i -> substring(_t, i, 2))"
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import (
        fanout,
    )

    bi = (
        # round-11 (guide §2.5): fan the narrow (id, text) frame out before
        # the corpus-sized explode -- a single-row-group input otherwise
        # runs the whole bigram expansion + map-side partial agg on one
        # core; no-op at real scale (many input splits).
        fanout(
            df.select(F.col(id_col), F.lower(text_col).alias("_t")).filter(
                F.length("_t") >= 2
            )
        )
        .select(F.col(id_col), F.explode(bigrams).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    model = bi.groupBy("bg").agg(F.sum("cnt").alias("n_bg"))
    total = model.agg(F.sum("n_bg").alias("_total"))
    qlp = F.floor(F.log2("n_bg") * 1_000_000_000 + 0.5).cast("decimal(38,0)")
    return (
        bi.join(F.broadcast(model.select("bg", qlp.alias("_qlp"))), "bg")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
            (
                F.floor(
                    (
                        F.sum(F.col("cnt") * F.col("_qlp")).cast("double")
                        / F.sum("cnt")
                        / 1_000_000_000
                        - F.log2(F.first("_total"))
                    )
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("mean_log2_prob"),
        )
    )
