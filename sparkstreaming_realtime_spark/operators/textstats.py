"""Text analysis operators over a document corpus: token counting,
quality scoring, language identification.

All pure column expressions over ``tokenize``'s arrays — the same
token alphabet (``[\\p{L}\\p{N}]`` runs) the match/dedup operators
use, so every text op in the engine agrees on what a token is
(one alphabet, derived everywhere). Per-row, zero-shuffle
feature extraction; the only shuffles are the final small group-bys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize

#: Function-word lists for the n-gram/stopword language heuristic.
#: Deliberately tiny (fits in a codegen'd IN-list); a production list
#: would be ~100 words per language, same plan shape.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "en": ("the", "and", "of", "to", "in", "is", "that", "it"),
    "es": ("el", "que", "de", "la", "los", "es", "una", "por"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "dans"),
}

#: English stopwords for the quality heuristic (subset of EN markers
#: plus common fillers).
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)


def token_count(text_col: Column | str) -> Column:
    return F.size(tokenize(text_col)).cast("bigint")


def token_count_t(toks: Column) -> Column:
    """token_count over an already-tokenized array column. The ``_t``
    variants exist because Catalyst does NOT dedupe repeated
    ``tokenize(text)`` subexpressions across a projection — a pipeline
    combining several text signals should tokenize ONCE (behind an
    ``explode(array())`` barrier, see corpus_curation_funnel) and feed
    the token array to these."""
    return F.size(toks).cast("bigint")


def marker_hits(text_col: Column | str, words: tuple[str, ...]) -> Column:
    """How many tokens (with multiplicity) are in ``words`` — the
    scoring primitive for language-ID and stopword ratios."""
    return marker_hits_t(tokenize(text_col), words)


def marker_hits_t(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def predict_lang(text_col: Column | str) -> Column:
    """Argmax of per-language marker hits, deterministic tie-break in
    alphabetical language order; 'und' (undetermined) when no marker
    of any language appears."""
    return predict_lang_t(tokenize(text_col))


def predict_lang_t(toks: Column) -> Column:
    scores = {
        lang: marker_hits_t(toks, ws) for lang, ws in LANG_MARKERS.items()
    }
    s_de, s_en, s_es, s_fr = (scores[k] for k in ("de", "en", "es", "fr"))
    return (
        F.when(s_de + s_en + s_es + s_fr == 0, F.lit("und"))
        .when((s_de >= s_en) & (s_de >= s_es) & (s_de >= s_fr), F.lit("de"))
        .when((s_en >= s_es) & (s_en >= s_fr), F.lit("en"))
        .when(s_es >= s_fr, F.lit("es"))
        .otherwise(F.lit("fr"))
    )


def _with_tokens(
    docs: DataFrame, text_col: str, *keep: str
) -> DataFrame:
    """Project ``keep`` columns plus a ``__toks`` array, tokenizing
    ONCE behind an explode(array()) barrier — the rollups below feed
    several signals from the same token array, and Catalyst would
    otherwise re-run the regex split per signal."""
    return docs.select(
        *keep, F.explode(F.array(tokenize(text_col))).alias("__toks")
    )


def quality_score(text_col: Column | str) -> Column:
    """Heuristic [0,1] quality score: length component (saturating at
    100 tokens) blended with stopword density. Deterministic closed
    form so the DuckDB oracle reproduces it exactly."""
    return quality_score_t(tokenize(text_col))


def quality_score_t(toks: Column) -> Column:
    n = token_count_t(toks).cast("double")
    stop = marker_hits_t(toks, STOPWORDS).cast("double")
    length_part = F.least(F.lit(1.0), n / F.lit(100.0))
    stop_part = F.when(n > 0, stop / n).otherwise(F.lit(0.0))
    return F.round(length_part * 0.7 + stop_part * 0.3, 6)


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus token statistics by language: the per-group rollup a
    pipeline dashboard wants. One small shuffle."""
    toks = token_count(text_col)
    return (
        docs.select("lang", "source", toks.alias("__n"), F.col("n_chars"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("__n").cast("bigint").alias("total_tokens"),
            F.round(F.avg("__n"), 2).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
    )


def lang_confusion(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(labeled lang, predicted lang, count) confusion matrix for the
    marker heuristic."""
    return (
        _with_tokens(docs, text_col, "lang")
        .select("lang", predict_lang_t(F.col("__toks")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def quality_bands(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Histogram of quality-score bands plus the per-band mean score."""
    q = quality_score_t(F.col("__toks"))
    band = (
        F.when(q < 0.33, "low").when(q < 0.66, "mid").otherwise("high")
    )
    return (
        _with_tokens(docs, text_col)
        .select(q.alias("__q"), band.alias("band"))
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("__q"), 6).alias("avg_quality"),
        )
    )


def adaptive_quality_filter(
    docs: DataFrame, text_col: str = "text", quantile: float = 0.5
) -> DataFrame:
    """Per-source adaptive quality thresholding: instead of one global
    quality cutoff (which silently empties strict-but-valuable sources
    and waves through lenient ones), each source keeps its own top
    ``1 - quantile`` fraction by score — the per-domain calibration
    move production curation pipelines make when sources have
    incomparable score distributions (books vs forum posts).

    Plan shape: score once (tokenize-once barrier), one small
    per-source exact-percentile aggregate (|sources| rows — tiny),
    broadcast it back onto the scored frame, count survivors. Two
    passes over the scored projection, zero global sorts; at 100 TB
    the percentile aggregate is the only wide op and it reduces
    map-side. Returns (source, threshold, n_docs, n_kept)."""
    from ..materialize import materialize

    # referenced twice (threshold agg + survivor count): materialize so
    # the regex tokenization runs once, not once per branch
    scored = materialize(
        _with_tokens(docs, text_col, "source").select(
            "source", quality_score_t(F.col("__toks")).alias("__q")
        )
    )
    thr = scored.groupBy("source").agg(
        F.expr(f"percentile(__q, {quantile})").alias("__thr")
    )
    return (
        scored.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.round(F.first("__thr"), 6).alias("threshold"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("__q") >= F.col("__thr")).cast("bigint"))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


def tfidf_top_terms(docs: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Corpus-level tf-idf: top-k terms by summed tf·idf.

    The canonical three-shuffle shape — explode terms, tf per
    (doc, term), df per term — then a broadcastable scalar N (kept as
    a 1-row frame crossJoin, no driver collect) and a top-k
    TakeOrdered. idf uses the plain ln(N/df) form; terms in every doc
    get idf 0 and drop out of the ranking naturally."""
    toks = docs.select("doc_id", F.explode(tokenize(text_col)).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = (
        toks.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n = docs.agg(F.count("*").cast("double").alias("__n"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("__tfidf", F.col("tf") * F.log(F.col("__n") / F.col("df")))
        .groupBy("term")
        .agg(F.round(F.sum("__tfidf"), 4).alias("tfidf"))
        .orderBy(F.desc("tfidf"), F.asc("term"))
        .limit(k)
    )


#: BPE-ish subword unit: runs of letters/digits count one, every other
#: non-space character counts alone — a cheap, deterministic proxy for
#: tokenizer cost estimation (real BPE needs the merges table; this
#: tracks it within ~15% on natural text and is pure regex).
BPE_ISH_RE = r"[\p{L}\p{N}]+|[^\s\p{L}\p{N}]"


def bpe_ish_token_count(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_RE), 0)).cast("bigint")


def token_cost_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-ish vs BPE-ish token counts per language — the
    'how many tokens will this corpus cost' dashboard rollup."""
    return (
        docs.select(
            "lang",
            token_count(text_col).alias("__w"),
            bpe_ish_token_count(text_col).alias("__b"),
        )
        .groupBy("lang")
        .agg(
            F.sum("__w").cast("bigint").alias("word_tokens"),
            F.sum("__b").cast("bigint").alias("bpe_ish_tokens"),
            F.round(
                F.sum("__b").cast("double") / F.sum("__w"), 4
            ).alias("bpe_per_word"),
        )
    )


def bigram_list(text_col: Column | str) -> Column:
    """NON-distinct token bigrams — repetition measurement needs the
    multiplicities that ``ngram_shingles``'s dedup (built for MinHash)
    throws away. Empty array below 2 tokens."""
    return bigram_list_t(tokenize(text_col))


def bigram_list_t(toks: Column) -> Column:
    # zip_with of two shifted slices — `toks` is evaluated once per
    # row as a HOF argument; putting it inside a transform's lambda
    # would re-evaluate it per bigram position (no CSE inside lambda
    # bodies; see functions/text.py:ngram_shingles)
    k = F.size(toks)
    m = k - F.lit(1)
    grams = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.when(k >= 2, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_ratio(text_col: Column | str) -> Column:
    """Gopher-style repetition signal (Rae et al. 2021 §A1.1): the
    fraction of bigram occurrences that are repeats of an earlier
    bigram in the same document — 1 − distinct/total. High values
    flag boilerplate/spam for the quality gate. Pure codegen array
    ops, zero shuffle."""
    return repetition_ratio_t(tokenize(text_col))


def repetition_ratio_t(toks: Column) -> Column:
    b = bigram_list_t(toks)
    total = F.size(b)
    return F.when(
        total > 0,
        F.round(
            1.0 - F.size(F.array_distinct(b)).cast("double") / total, 6
        ),
    ).otherwise(F.lit(0.0))


def repetition_bands(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus rollup of the repetition signal: docs per band + band
    mean, the dashboard a filtering run is tuned against."""
    rep = repetition_ratio_t(F.col("__toks"))
    band = (
        F.when(rep < 0.1, "low")
        .when(rep < 0.3, "mid")
        .otherwise("high")
    )
    return (
        _with_tokens(docs, text_col)
        .select(rep.alias("__r"), band.alias("band"))
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("__r"), 6).alias("avg_repetition"),
        )
    )


#: Gopher document-filter thresholds (Rae et al. 2021, App. A1.1),
#: adapted to this corpus's token alphabet: the line-shape rules
#: (bullet-start / ellipsis-end fractions) are omitted because the
#: synthetic corpus has no line structure, and the symbol-to-word
#: rule (#, …) reduces to a no-op under the alnum tokenizer — both
#: would re-enter unchanged on corpora that carry them.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2


def gopher_flags_t(toks: Column) -> dict[str, Column]:
    """The four applicable Gopher rules over a token-array column,
    each a codegen'd boolean (zero shuffle, zero UDF):

    - ``words_ok``: 50 ≤ n ≤ 100 000
    - ``mean_len_ok``: mean token length in [3, 10]
    - ``alpha_ok``: ≥ 80 % of tokens contain a letter
    - ``stop_ok``: ≥ 2 stopword occurrences

    Exposed as a dict so rollups can report per-rule attrition, the
    number a filter-tuning run actually inspects."""
    n = F.size(toks)
    nd = n.cast("double")
    total_len = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    mean_len = F.when(n > 0, total_len.cast("double") / nd).otherwise(
        F.lit(0.0)
    )
    alpha = F.size(F.filter(toks, lambda t: t.rlike(r"\p{L}")))
    alpha_frac = F.when(n > 0, alpha.cast("double") / nd).otherwise(
        F.lit(0.0)
    )
    return {
        "words_ok": (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS),
        "mean_len_ok": (mean_len >= GOPHER_MIN_MEAN_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_LEN),
        "alpha_ok": alpha_frac >= GOPHER_MIN_ALPHA_FRAC,
        "stop_ok": marker_hits_t(toks, STOPWORDS) >= GOPHER_MIN_STOPWORDS,
    }


def gopher_filter_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language Gopher-rule attrition: docs passing each rule and
    all four — the table a filtering run is tuned against. One
    tokenize-once scan, one small per-language aggregate."""
    flags = gopher_flags_t(F.col("__toks"))
    base = _with_tokens(docs, text_col, "lang").select(
        "lang", *[c.alias(k) for k, c in flags.items()]
    )
    passed = F.col("words_ok") & F.col("mean_len_ok") & F.col("alpha_ok") & F.col("stop_ok")
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return base.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        cnt(F.col("words_ok")).alias("n_words_ok"),
        cnt(F.col("mean_len_ok")).alias("n_mean_len_ok"),
        cnt(F.col("alpha_ok")).alias("n_alpha_ok"),
        cnt(F.col("stop_ok")).alias("n_stop_ok"),
        cnt(passed).alias("n_pass"),
    )


def top_bigrams(docs: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Corpus-wide top-k bigrams by occurrence (vocabulary/merges-table
    prep). Explode → count → TakeOrdered: the count shuffle gets
    map-side partials, the top-k never globally sorts."""
    return (
        docs.select(F.explode(bigram_list(text_col)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(k)
    )


def temperature_resample(
    docs: DataFrame, group_col: str = "lang", alpha: float = 0.5
) -> DataFrame:
    """Temperature-based corpus rebalancing (the multilingual-mix
    sampler of Conneau & Lample 2019 §3.1, downsample-only form):
    group g keeps rate (n_min/n_g)^(1-α) — the biggest groups shrink
    toward the α-tempered share, the smallest keeps everything.

    Membership is decided by a 60-bit hash of the doc id against the
    rate — deterministic, reproducible across engines and runs, and
    embarrassingly parallel (no per-group reservoir state). The group
    rate table is a tiny broadcast; the only shuffle is the counting
    pass."""
    from ..functions.hashing import hash60

    counts = docs.groupBy(group_col).agg(F.count("*").alias("__n"))
    nmin = counts.agg(F.min("__n").alias("__nmin"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        group_col,
        F.col("__n"),
        F.pow(F.col("__nmin") / F.col("__n"), 1.0 - alpha).alias("__rate"),
    )
    u = hash60(F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))) / F.lit(
        float(1 << 60)
    )
    kept = (
        docs.join(F.broadcast(rates), group_col)
        .withColumn("__keep", u < F.col("__rate"))
    )
    return (
        kept.groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.first("__rate"), 6).alias("rate"),
            F.sum(F.col("__keep").cast("bigint")).cast("bigint").alias("n_kept"),
        )
    )


def sequence_packing(
    docs: DataFrame,
    budget: int = 512,
    part_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining
    batcher): within each shard, documents concatenate in doc_id order
    and cut into fixed token-budget bins; a doc's bin is its exclusive
    running-token-count div budget.

    The window is partitioned by shard (source) — packing is
    inherently sequential per shard, so the shard IS the parallelism
    unit; at 100 TB you shard to (source, day) or finer and every
    shard packs independently. Returns per-bin occupancy."""
    from pyspark.sql.window import Window

    toks = token_count(text_col)
    w = (
        Window.partitionBy(part_col)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = F.coalesce(F.sum("__tok").over(w), F.lit(0))
    return (
        docs.select(part_col, "doc_id", toks.alias("__tok"))
        .withColumn("bin", F.floor(pre / budget).cast("bigint"))
        .groupBy(part_col, "bin")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("__tok").cast("bigint").alias("sum_tokens"),
        )
    )


def lexical_commonness(
    docs: DataFrame,
    text_col: str = "text",
    top_v: int = 50_000,
    low_e4: int = 332,
    mid_e4: int = 334,
) -> DataFrame:
    """CCNet-style lexical quality signal (Wenzek et al. 2020 use LM
    perplexity; this is its log-free integer cousin): score each
    document by the mean RELATIVE corpus frequency of its tokens —
    rare/garbled vocabulary scores low, boilerplate scores high — and
    band the corpus on it. Relative (÷ total corpus tokens) so the
    score is invariant to corpus size.

    Deliberately ALL-INTEGER: per-token scores are corpus counts and
    the banding compare is ``sum_cnt · 10⁴ <?> thr · n_tok · T`` in
    bigint math — no logarithm whose last-ulp could differ between
    engines, no float summation order. The vocabulary is capped at
    ``top_v`` (count desc, term asc) with out-of-vocabulary counting
    0, exactly how a production filter ships a frozen top-V table.
    ``low_e4``/``mid_e4`` are thresholds in 1e-4 units of mean
    relative frequency.

    Scale shape: one count shuffle builds the vocab (map-side
    partials), the capped vocab and the 1-row total broadcast, and
    the per-doc rollup shuffles on doc_id with partial aggregation."""
    toks = docs.select(
        "doc_id", F.explode(tokenize(text_col)).alias("term")
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(top_v)
    )
    total = toks.agg(F.count("*").alias("__T"))
    per_doc = (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(F.coalesce(F.col("cnt"), F.lit(0))).alias("sum_cnt"),
        )
        .crossJoin(F.broadcast(total))
    )
    scaled = F.col("sum_cnt") * 10_000
    band = (
        F.when(scaled < low_e4 * F.col("n_tok") * F.col("__T"), "rare")
        .when(scaled < mid_e4 * F.col("n_tok") * F.col("__T"), "normal")
        .otherwise("common")
    )
    return (
        per_doc.select(band.alias("band"), "n_tok")
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        )
    )


def token_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document unigram Shannon entropy — the information-theoretic
    quality signal complementing the ratio heuristics
    (:func:`quality_score`) and the surface repetition gates
    (:func:`repetition_ratio`, the Gopher flags): boilerplate and
    keyword-stuffed spam have LOW entropy for their length, and
    entropy is what the "compression ratio" filters in published
    curation pipelines (e.g. CCNet's LM-based filtering cousin)
    approximate.

    H = ln N − (Σ_t c_t·ln c_t)/N over token counts c_t. Every
    per-term contribution quantizes to integer **micro-nats**
    (``round(1e6·c·ln c)`` — the lm.py convention) and sums as a
    bigint, so the total is order-independent; ln N enters once per
    document. Returns (doc_id, n_tokens, n_distinct, entropy) with
    ``entropy`` rounded 4dp.

    Scale shape: **zero shuffle**. Counts come from run lengths of
    the per-document SORTED token array — sort_array + two
    higher-order transforms, all inside whole-stage codegen — never
    an explode + (doc, token) groupBy (which would shuffle one row
    per token: the corpus token count, ~10¹¹ rows at 100 TB, against
    this shape's nothing). The sorted array binds ONCE behind an
    explode(array()) barrier (the no-CSE-in-HOF rule)."""
    t = F.col("__t")
    n = F.size(t)
    # 1-based positions where a new run starts (F.get is 0-based and
    # NULL-safe out of bounds — element_at would throw under ANSI)
    starts = F.when(
        n > 0,
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == 1)
            | (F.get(t, i - 1) != F.get(t, i - 2)),
        ),
    ).otherwise(F.array().cast("array<int>"))
    base = docs.select(
        "doc_id",
        F.explode(F.array(F.sort_array(tokenize(text_col)))).alias("__t"),
    ).select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.explode(F.array(starts)).alias("__s"),
    )
    s = F.col("__s")
    k_max = F.size(s)
    lens = F.transform(
        F.sequence(F.lit(1), k_max),
        lambda k: F.coalesce(
            F.get(s, k).cast("bigint"), F.col("n_tokens") + 1
        )
        - F.get(s, k - 1).cast("bigint"),
    )
    micro = F.aggregate(
        F.when(k_max > 0, lens).otherwise(F.array().cast("array<bigint>")),
        F.lit(0).cast("bigint"),
        lambda acc, c: acc
        + F.round(F.lit(1e6) * c.cast("double") * F.log(c.cast("double")))
        .cast("bigint"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        k_max.cast("bigint").alias("n_distinct"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.log(F.col("n_tokens").cast("double"))
                - micro.cast("double")
                / (F.lit(1e6) * F.col("n_tokens").cast("double")),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("entropy"),
    )
