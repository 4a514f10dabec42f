"""Text-analysis operators for training-data pipelines (SURVEY.md §2.8).

Token counting, quality scoring, language-ID heuristics and document
fingerprinting — all as pure Column expressions (no explode in the hot
path: per-document token work uses array lambdas, so each operator is a
single narrow projection over the documents scan, embarrassingly
parallel at any scale).

Constants are shared with the DuckDB oracle generators in
``__spark_entry__.py`` — do not fork them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scholar_stream_spark.plans import hybrid
from scholar_stream_spark.plans.hybrid import driver_rows_df
from scholar_stream_spark.plans.partitioning import scale_out
from scholar_stream_spark.functions.hashing import hex48_spark_sql
from scholar_stream_spark.functions.text import normalize_text
from scholar_stream_spark.operators.relational import ranked_by_range

#: Stopword list used for quality scoring (drawn from the corpus vocab).
STOPWORDS = ("the", "a")

#: Marker words per language for the n-gram/stopword language-ID
#: heuristic, checked in deterministic priority order.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
}
LANG_ORDER = ("en", "de", "fr", "es")


def n_tokens(text: Column) -> Column:
    """Whitespace token count without materializing the token array:
    ``len - len(without spaces) + 1`` — identical across engines and
    cheap enough to inline everywhere."""
    return (
        F.length(text) - F.length(F.regexp_replace(text, " ", "")) + F.lit(1)
    ).cast("long")


def _hits(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


#: BPE-ish pretokenizer pattern (GPT-2-style unit runs): letter runs,
#: digit runs, punctuation runs. Counting its matches estimates the
#: tokenizer budget without a vocabulary — a LOWER bound on BPE tokens
#: (BPE only merges within these units, never across, so each unit
#: yields >= 1 token). The whitespace class is spelled explicitly
#: ([ \t\n\x0b\f\r], the _ASCII_WS idiom from curation.py) because Java
#: \s includes \x0b while DuckDB's RE2 \s does not — a bare \s would
#: make the two engines disagree on vertical-tab characters.
BPE_UNIT_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]+"


def token_counts(documents: DataFrame) -> DataFrame:
    """Per-document token statistics: whitespace tokens, distinct tokens,
    chars, and the BPE-ish regex unit count (``BPE_UNIT_RE`` matches —
    the cheap tokenizer-budget estimator)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    documents = scale_out(documents)
    return documents.select(
        "doc_id",
        n_tokens(F.col("text")).alias("n_ws_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_UNIT_RE), F.lit(0))
        ).cast("long").alias("n_bpe_tokens"),
    )


#: Fixed token-count bucket width for the per-source length histogram
#: (32 tokens ≈ the granularity packing decisions care about).
DOCLEN_BUCKET_WIDTH = 32


def doclen_histogram(
    documents: DataFrame, bucket_width: int = DOCLEN_BUCKET_WIDTH
) -> DataFrame:
    """Per-source document-length histogram in whitespace tokens — the
    report read BEFORE choosing a packing context length (`pack_docs`'
    budget) or a chunking size: how much of each source falls below /
    above a candidate sequence budget, and where the mass is.

    Buckets are FIXED-width integer arithmetic (``nt DIV width``), so
    both engines bucket identically — no quantile estimation, no
    float boundaries (`value_equidepth_bins` is the equi-DEPTH
    companion on events). `doc_frac` is one IEEE division of exact
    integers computed over the ≤|sources|·buckets rollup.

    Scale shape: ONE text scan computing the `n_tokens` length
    expression (no token array materialized), one map-side-combined
    groupBy to the tiny (source, bucket) rollup; the per-source share
    window runs on the rollup, never the corpus.

    Output: (source, bucket_lo, n_docs, total_tokens, doc_frac),
    bucket_lo = bucket start in tokens.
    """
    base = scale_out(documents).select(
        "source", n_tokens(F.col("text")).alias("nt")
    )
    rolled = base.groupBy(
        "source",
        F.expr(f"(nt DIV {int(bucket_width)}) * {int(bucket_width)}")
        .cast("long")
        .alias("bucket_lo"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("total_tokens"),
    )
    w_src = Window.partitionBy("source")
    return rolled.select(
        "source",
        "bucket_lo",
        "n_docs",
        "total_tokens",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w_src).cast("double"),
            6,
        ).alias("doc_frac"),
    )


def quality_parts(text: Column) -> tuple[Column, Column, Column, Column]:
    """(n_tokens, mean_token_len, stopword_ratio, composite score) for a
    text column — shared by ``text_quality`` and the composed
    ``curation.curate_corpus`` so the two can never drift."""
    toks = F.split(F.trim(text), r"\s+")
    nt = n_tokens(text)
    mean_len = F.length(F.regexp_replace(text, " ", "")) / nt
    stop_ratio = _hits(toks, STOPWORDS) / nt
    score = F.when(nt < 5, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.abs(mean_len - F.lit(4.0)) / F.lit(10.0)
        - stop_ratio * F.lit(0.5)
    )
    return nt, mean_len, stop_ratio, score


def text_quality(documents: DataFrame) -> DataFrame:
    """Quality-score features: token count, mean token length, stopword
    ratio, and a composite score — the standard cheap pre-filter before
    expensive dedup/training steps."""
    nt, mean_len, stop_ratio, score = quality_parts(F.col("text"))
    documents = scale_out(documents)
    return documents.select(
        "doc_id",
        nt.alias("n_tokens"),
        F.round(mean_len, 4).alias("mean_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def lang_hit_cols(text: Column) -> dict[str, Column]:
    """Per-language marker-hit counts for a text column.

    Materialize these in a projection BEFORE applying
    ``pred_lang_from_hits``: array ``filter`` lambdas are interpreted
    (no codegen), and the priority-argmax CASE references every count
    O(L) times — inlining the filters multiplies interpreted work ~3×
    and bloats the expression tree Catalyst must analyze. Two stages
    bound it at one filter per language per row.
    """
    toks = F.split(F.trim(text), r"\s+")
    return {lang: _hits(toks, LANG_MARKERS[lang]) for lang in LANG_ORDER}


def pred_lang_from_hits(hit_cols: dict[str, Column]) -> Column:
    """Priority-argmax language from hit counts (see ``lang_profile``)
    — shared with ``curation.curate_corpus``.

    Formulated as ``array_max`` over ``(hits, -priority, lang)``
    structs (lexicographic struct comparison = max hits, earliest
    ``LANG_ORDER`` on ties) rather than the O(L²) pairwise CASE: the
    CASE references every hit column ~2(L-1) times, and Catalyst's
    CollapseProject will inline a staged hit column into each
    reference — with interpreted array-``filter`` hits that meant ~34
    tokenize+filter evaluations per row in ``curate_corpus``. Here
    each hit column is referenced once (twice after the ``und`` guard
    inlines), so the operator survives projection collapsing.
    """
    entries = [
        F.struct(
            hit_cols[lang].alias("h"),
            F.lit(-i).alias("p"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(LANG_ORDER)
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["h"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_profile(documents: DataFrame) -> DataFrame:
    """Language-ID heuristic: marker-word hit counts per language,
    argmax with deterministic priority (LANG_ORDER), 'und' when nothing
    matches. A real deployment swaps the marker lists for char-n-gram
    models; the operator shape (single narrow projection) is the point.
    """
    hits = lang_hit_cols(F.col("text"))
    staged = scale_out(documents).select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[hits[lang].alias(f"_h_{lang}") for lang in LANG_ORDER],
    )
    staged_hits = {lang: F.col(f"_h_{lang}") for lang in LANG_ORDER}
    return staged.select(
        "doc_id",
        "labeled_lang",
        pred_lang_from_hits(staged_hits).alias("pred_lang"),
        F.col("_h_en").alias("en_hits"),
    )


def lang_mix_by_source(documents: DataFrame) -> DataFrame:
    """Language composition per source — the corpus-mixture report a
    multilingual training pipeline reads before setting sampling
    weights ("how much of each language does each crawl carry, and
    does the heuristic agree with the upstream labels?"). Rolls the
    ``lang_profile`` per-document language ID up to (source,
    pred_lang): document count, share of the source, and the fraction
    where the prediction agrees with the labeled ``lang`` column (the
    label-drift alarm — a source whose agreement sinks got relabeled
    or re-crawled).

    Engine parity: the language ID is the SHARED priority-argmax rule
    (one definition generates both the Column expression and the
    oracle SQL); counts are exact integers and both fractions are
    single IEEE divisions of exact integers.

    Scale shape: ONE text scan stages the per-language hit counts
    (``lang_hit_cols`` — filters evaluated once per language), one
    map-side-combined groupBy collapses to the ≤|sources|·|langs| grid,
    and the share window runs over that tiny rollup. Output:
    (source, pred_lang, n_docs, share_of_source, label_agree_frac).
    """
    hits = lang_hit_cols(F.col("text"))
    staged = scale_out(documents).select(
        "source",
        F.col("lang").alias("labeled_lang"),
        *[hits[lang].alias(f"_h_{lang}") for lang in LANG_ORDER],
    )
    staged_hits = {lang: F.col(f"_h_{lang}") for lang in LANG_ORDER}
    per_doc = staged.select(
        "source",
        "labeled_lang",
        pred_lang_from_hits(staged_hits).alias("pred_lang"),
    )
    rolled = per_doc.groupBy("source", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(
                F.col("pred_lang") == F.col("labeled_lang"), F.lit(1)
            ).otherwise(F.lit(0))
        ).cast("long").alias("_agree"),
    )
    w_src = Window.partitionBy("source")
    return rolled.select(
        "source",
        "pred_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w_src).cast("double"),
            6,
        ).alias("share_of_source"),
        F.round(
            F.col("_agree").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("label_agree_frac"),
    )


TFIDF_TOP_K = 5


def tfidf_top_terms(documents: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """Top-k terms per document by tf-idf (idf = ln(N/df)).

    The explode is unavoidable here (term-level output), but the plan is
    the minimal three-shuffle shape: tf from one (doc, term) groupBy,
    df from one term groupBy of the DISTINCT (doc, term) pairs already
    in hand, corpus size N broadcast as a 1-row aggregate, and the
    per-doc top-k as a ranking window with deterministic tie-break
    (score desc, term asc). At scale df/tf aggregates are map-side
    combined; nothing quadratic anywhere.
    """
    toks = F.explode(
        F.split(F.trim(F.col("text")), r"\s+")
    ).alias("term")
    pairs = scale_out(documents).select("doc_id", toks)
    tf = pairs.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "term",
            F.col("tf"),
            F.col("df"),
            F.round("tfidf", 4).alias("tfidf"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """Perplexity-proxy quality score: each document's mean unigram
    log-probability under the corpus's OWN unigram LM — the cheap n=1
    analog of CCNet-style LM-perplexity filtering (docs far from the
    corpus distribution score low / show high perplexity; boilerplate
    and wordlist junk surface at both extremes).

    No smoothing needed: the LM is trained on the same corpus it scores,
    so every token has count ≥ 1 by construction.

    Plan shape (the minimal three-shuffle explode pipeline, same as
    ``tfidf_top_terms``): normalized tokens explode once; the unigram
    frequency table comes from one map-side-combined term groupBy; the
    corpus token total is a broadcast 1-row aggregate; scoring joins the
    (term-keyed) token table against the frequency table and reduces per
    doc. Nothing quadratic; the vocabulary never sits on the driver.

    Output: (doc_id, n_lm_tokens, logprob, ppl) — ppl = exp(-logprob).
    """
    toks = F.explode(
        F.split(normalize_text(F.col("text")), " ")
    ).alias("term")
    pairs = scale_out(documents).select("doc_id", toks)
    freq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(
        F.sum("c").cast("double").alias("n_total")
    )
    lp = F.log(F.col("c") / F.col("n_total"))
    return (
        pairs.join(freq, "term")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lm_tokens"),
            F.round(F.avg(lp), 4).alias("logprob"),
            F.round(F.exp(-F.avg(lp)), 4).alias("ppl"),
        )
    )


#: CCNet-style perplexity strata: per-language thresholds at these
#: quantiles split the corpus into head (lowest-perplexity third),
#: middle, tail. Literal decimals (not 1/3) so the Spark and DuckDB
#: sides evaluate the SAME double constants.
PPL_BUCKET_LO = 0.33
PPL_BUCKET_HI = 0.67


def perplexity_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style quality strata: bucket every document into
    head/middle/tail by LM perplexity WITHIN its language (Wenzek et
    al., "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data" — the head/middle/tail split that downstream pipelines
    sample from by quality).

    Scale shape — thresholds, not ranking: a per-language ``ntile``
    would rangepartition-sort the whole corpus per language; instead
    thresholds come off a per-language DISTINCT-ppl histogram (ppl is
    4-decimal, so the histogram is small regardless of corpus size —
    one map-side-combined groupBy), whose cumulative counts pick the
    DISCRETE q-quantile: the smallest actual ppl value with
    ``cum >= ceil(q*n)``. Discrete beats interpolated here for
    engine-exactness, not just cost: Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` interpolate with different formula
    associativity ((1-d)*lo + d*hi vs lo + d*(hi-lo)), and a 1-ulp
    difference landing on a round() boundary would flip every
    threshold-tied doc's bucket. Order statistics are exact data
    values; ``ceil(q*n)`` is the same IEEE product on both engines.
    The thresholds (languages × 2 rows) broadcast back, so bucketing
    is a stateless comparison on the scoring pass.

    Output: (doc_id, lang, ppl, bucket) — bucket ∈ head|middle|tail.
    """
    scored = (
        unigram_logprob(documents)
        .join(documents.select("doc_id", "lang"), "doc_id")
        # pinned: the threshold histogram AND the final bucket join
        # both read the scored table — without the pin each consumer
        # re-runs the whole LM scoring pass (r17 opt: the plan held
        # the unigram_logprob subtree twice, 46 Exchanges)
        .localCheckpoint(eager=False)
    )
    hist = scored.groupBy("lang", "ppl").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.partitionBy("lang").orderBy("ppl").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "ppl",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    thr = cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(PPL_BUCKET_LO * F.col("n")), F.col("ppl"))
        ).alias("t_lo"),
        F.min(
            F.when(F.col("cum") >= F.ceil(PPL_BUCKET_HI * F.col("n")), F.col("ppl"))
        ).alias("t_hi"),
    )
    bucket = (
        F.when(F.col("ppl") <= F.col("t_lo"), F.lit("head"))
        .when(F.col("ppl") <= F.col("t_hi"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.join(F.broadcast(thr), "lang").select(
        "doc_id", "lang", "ppl", bucket.alias("bucket")
    )


def corpus_data_card(documents: DataFrame) -> DataFrame:
    """Corpus data card: the per-language summary table (plus a TOTAL
    rollup row) a curation pipeline publishes alongside the corpus —
    doc/token counts, average and exact-median document length, and
    mean quality score.

    One ``rollup(lang)`` aggregation: every row and the grand total come
    out of a single map-side-combined pass (exact ``percentile`` keeps
    it engine-checkable; at 100 TB you'd swap ``percentile_approx`` — the
    same trade documented on ``value_percentiles``).

    Output: (lang, n_docs, n_tokens, avg_doc_tokens, p50_doc_tokens,
    mean_quality) with ``lang = 'TOTAL'`` for the rollup row.
    """
    _, _, _, score = quality_parts(F.col("text"))
    base = scale_out(documents).select(
        "lang",
        n_tokens(F.col("text")).alias("nt"),
        score.alias("q"),
    )
    return (
        base.rollup("lang")
        .agg(
            F.grouping("lang").alias("_g"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.round(F.avg("nt"), 4).alias("avg_doc_tokens"),
            F.round(F.expr("percentile(nt, 0.5)"), 4).alias(
                "p50_doc_tokens"
            ),
            F.round(F.avg("q"), 4).alias("mean_quality"),
        )
        .select(
            # GROUPING, not coalesce: a NULL-lang detail group must not
            # collide with the rollup grand-total row
            F.when(F.col("_g") == 1, F.lit("TOTAL"))
            .otherwise(F.coalesce(F.col("lang"), F.lit("(null)")))
            .alias("lang"),
            "n_docs",
            "n_tokens",
            "avg_doc_tokens",
            "p50_doc_tokens",
            "mean_quality",
        )
    )


#: C4-style line-filter rules (Raffel et al., C4 appendix): a line
#: survives only if it ends in terminal punctuation, has at least
#: MIN_LINE_WORDS words, and carries no code/boilerplate marker.
C4_MIN_LINE_WORDS = 3
C4_TERMINALS = (".", "!", "?", '"')
C4_BAD_MARKERS = ("{", "javascript")


def clean_lines(documents: DataFrame) -> DataFrame:
    """C4-style line-level cleaning: drop boilerplate LINES inside
    otherwise-good documents (cookie banners, enable-javascript notices,
    code fragments, nav stubs) — the pass that runs before any
    document-level quality scoring in the C4 pipeline.

    Keep rule per line (all engine-portable string ops, shared with the
    oracle): non-empty after trim, ends in terminal punctuation
    (``C4_TERMINALS``), ≥ ``C4_MIN_LINE_WORDS`` words (the same
    space-count formula as ``n_tokens``), and contains no
    ``C4_BAD_MARKERS`` substring (case-insensitive).

    A narrow per-row projection — split on newline, higher-order
    ``filter``, re-join — no shuffle at all; partition-inherited from
    the scan. Output: (doc_id, clean_text, n_lines, n_kept_lines).
    """
    terminals = ", ".join(f"'{t}'" for t in C4_TERMINALS)
    markers = " AND ".join(
        f"NOT contains(lower(l), '{m}')" for m in C4_BAD_MARKERS
    )
    keep = (
        f"l -> length(trim(l)) > 0 "
        f"AND right(trim(l), 1) IN ({terminals}) "
        f"AND length(trim(l)) - length(replace(trim(l), ' ', '')) + 1 "
        f">= {C4_MIN_LINE_WORDS} "
        f"AND {markers}"
    )
    lines = F.split(F.col("text"), "\n")
    kept = F.expr(f"filter(split(text, '\\n'), {keep})")
    return scale_out(documents).select(
        "doc_id",
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
    )


def bigram_logprob(documents: DataFrame) -> DataFrame:
    """Per-document mean conditional bigram log-probability
    ``ln P(w_i | w_{i-1})`` under the corpus's OWN bigram LM — one order
    deeper than ``unigram_logprob``, and much sharper at surfacing
    shuffled/concatenated junk: token SEQUENCES that never co-occur
    elsewhere score low even when every individual token is common.

    Conditionals use context counts (``c(w1,·)``), so probabilities
    normalize per context and — the LM being trained on the corpus it
    scores — every observed bigram has count ≥ 1: no smoothing needed.
    Documents with fewer than two tokens have no bigrams and are
    omitted (same contract as the window operators).

    Plan shape mirrors ``unigram_logprob``: one bigram explode, one
    map-side-combined (w1, w2) count, a context roll-up of that count
    table (vocabulary-sized, never on the driver), then the scoring
    join + per-doc reduce.

    Output: (doc_id, n_bigrams, logprob, ppl) — ppl = exp(-logprob).
    """
    base = (
        scale_out(documents)
        .select(
            "doc_id",
            F.split(normalize_text(F.col("text")), " ").alias("ws"),
        )
        .filter(F.size("ws") >= 2)
    )
    bg = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(ws[i-1] AS w1, ws[i] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ctx = cnt.groupBy("w1").agg(F.sum("c").cast("double").alias("cc"))
    # fold the context totals into the bigram LM FIRST (both tables are
    # vocabulary-sized), so the corpus-sized exploded stream joins ONCE
    # — the round-6 version joined it twice (cnt, then ctx), paying a
    # second corpus-wide exchange for a lookup the LM side can absorb
    lm = cnt.join(ctx, "w1")
    lp = F.log(F.col("c") / F.col("cc"))
    return (
        bg.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(lp), 4).alias("logprob"),
            F.round(F.exp(-F.avg(lp)), 4).alias("ppl"),
        )
    )


#: PII patterns (C4/Dolma-class scrubbing): emails, separator-delimited
#: phone numbers, IPv4 addresses, UUIDs, and long digit runs. POSIX-safe
#: classes + ``\b`` word boundaries ONLY — the exact same pattern text
#: compiles in Spark (Java regex) and DuckDB (RE2), which the oracle
#: relies on; RE2 has no lookarounds, so the phone pattern anchors its
#: left edge with a (paren | \b-digit) alternation instead of a
#: lookbehind. Phones REQUIRE separators — contiguous 7+-digit runs stay
#: the digit-run pattern's job, so the two counts never double-fire on
#: the same shape.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = (
    "(\\([0-9]{3}\\) ?|\\b[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\\b"
)
PII_IPV4_RE = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
PII_UUID_RE = (
    "\\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\\b"
)
PII_DIGITS_RE = "[0-9]{7,}"

#: (pattern, replacement token) in REDACTION ORDER: specific shapes
#: before general ones — UUIDs before digit runs (a UUID's 12-hex tail
#: can be all digits), IPs/phones before digit runs for the same
#: reason. Counts are per-pattern over the ORIGINAL text, so they are
#: order-independent and auditable individually.
PII_RULES = (
    ("n_emails", PII_EMAIL_RE, "<EMAIL>"),
    ("n_uuids", PII_UUID_RE, "<UUID>"),
    ("n_ipv4", PII_IPV4_RE, "<IP>"),
    ("n_phones", PII_PHONE_RE, "<PHONE>"),
    ("n_digit_runs", PII_DIGITS_RE, "<NUM>"),
)


def scrub_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails, phone numbers, IPv4 addresses, UUIDs, and long
    digit runs from a text column — the standard pre-training PII scrub
    (the C4/Dolma scrubber's pattern family), as narrow
    ``regexp_replace``/``regexp_count`` projections (JVM regex, no
    Python, no shuffle). Replacements apply in ``PII_RULES`` order
    (specific → general); each count is that pattern's hits in the RAW
    text, so the audit columns don't depend on redaction order.

    Output: (doc_id, scrubbed, n_emails, n_uuids, n_ipv4, n_phones,
    n_digit_runs).
    """
    t = F.col(text_col)
    scrubbed = t
    for _, pat, token in PII_RULES:
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(name)
        for name, pat, _ in PII_RULES
    ]
    return scale_out(documents).select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        *counts,
    )


#: Hash-feature classifier: bucket count and the integer weight range
#: (weights live in [-1000, 1000] milli-units — integer by
#: construction, so the per-doc logit sum is EXACT and engine-portable;
#: only the final normalization and sigmoid touch doubles).
QC_BUCKETS = 4096
QC_WEIGHT_SPAN = 2001
QC_WEIGHT_SALT = "qw:"


def quality_classifier(
    documents: DataFrame,
    n_buckets: int = QC_BUCKETS,
    key_col: str = "doc_id",
) -> DataFrame:
    """Model-based quality scoring (the FineWeb-Edu / fastText-gate
    shape): a linear classifier over hashed unigram+bigram features,
    squashed to a probability — score = sigmoid(mean feature weight) —
    with the verdict emitted as ``label`` for the caller's
    ``.filter("label")``.

    The weight table is FROZEN and derived in-plan from the bucket id
    (``(hash(salt‖bucket) mod 2001) − 1000`` milli-units): a
    deterministic stand-in for trained weights that exercises the real
    deployment plumbing — feature hashing, weight lookup,
    length-normalized logit, sigmoid, threshold — end to end. Swapping
    in a trained export means replacing ONE derivation with a
    |buckets|-row literal/broadcast table; nothing else changes.

    Scale shape: zero joins — the weight derives from the bucket hash
    inside the projection, so there isn't even a weight table to
    broadcast; one n-gram explode feeds a doc-keyed exact-integer sum
    (weights are integers, so the logit cannot drift with partitioning
    or engine); ``label`` thresholds the SIGN of the exact logit, never
    the post-sigmoid double. Shares the DSIR feature extractor so the
    two hashed-feature operators can never disagree on tokenization.

    Output: (doc_id, n_ngrams, logit, score, label).
    """
    import hashlib  # noqa: PLC0415

    from scholar_stream_spark.operators.sampling import (  # noqa: PLC0415
        _dsir_bucket_rows,
    )

    grams = _dsir_bucket_rows(documents, key_col, n_buckets)
    half = (QC_WEIGHT_SPAN - 1) // 2
    # r18 (guide §2.3 per-task work): the weight is a pure function of
    # the bucket id, but the old expression recomputed
    # md5('qw:' ‖ bucket) PER GRAM OCCURRENCE — corpus-linear hashing
    # for a |buckets|-sized table. Precompute the 4096 values once at
    # plan build (python md5 of the identical ASCII string ≡ Spark's
    # md5(concat(...)) — the same conv(substr(md5,1,12),16,10) % span
    # arithmetic, so every weight is bit-identical; pinned in pytest),
    # and index a constant-folded array literal per gram instead.
    weights = [
        int(
            hashlib.md5(
                f"{QC_WEIGHT_SALT}{b}".encode()
            ).hexdigest()[:12],
            16,
        )
        % QC_WEIGHT_SPAN
        - half
        for b in range(n_buckets)
    ]
    # ONE SQL-parsed array literal: a python-side F.lit/F.array over
    # 4096 values costs 4096 py4j round trips (~3.5 s of construction,
    # measured) — the expr string is one call and constant-folds
    w_tab = F.expr(f"array({','.join(map(str, weights))})")
    w_q = F.element_at(w_tab, F.col("bucket").cast("int") + 1)
    scored = grams.select(key_col, w_q.alias("w_q")).groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_ngrams"),
        F.sum("w_q").alias("logit_q"),
    )
    logit = F.col("logit_q") / F.col("n_ngrams") / F.lit(1000.0)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return scored.select(
        F.col(key_col),
        "n_ngrams",
        F.round(logit, 4).alias("logit"),
        F.round(score, 4).alias("score"),
        (F.col("logit_q") >= 0).alias("label"),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Per-document repetition features (Gopher-style quality rules):
    duplicate-token ratio and most-frequent-token share.

    One explode + one (doc, term) groupBy + one doc-level rollup — the
    same map-side-combined shape as tf-idf; nothing quadratic. High
    ``dup_token_ratio`` / ``top_token_ratio`` flags boilerplate and
    generator loops that length/stopword heuristics miss.

    Output: (doc_id, n_tokens, n_distinct, dup_token_ratio,
    top_token_ratio).
    """
    pairs = scale_out(documents).select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
    )
    tf = pairs.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("tf").alias("max_tf"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_tokens"), 4
            ).alias("dup_token_ratio"),
            F.round(F.col("max_tf") / F.col("n_tokens"), 4).alias(
                "top_token_ratio"
            ),
        )
    )


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 over the normalized text
    (lowercase, collapsed whitespace) — the exact-dedup / cache key."""
    documents = scale_out(documents)
    return documents.select(
        "doc_id",
        F.md5(normalize_text(F.col("text"))).alias("fingerprint"),
    )


#: Vocabulary size for the coverage curve (shared with the oracle).
VOCAB_TOP_N = 200


def vocab_coverage(documents: DataFrame, top_n: int = VOCAB_TOP_N) -> DataFrame:
    """Greedy frequency vocabulary + corpus coverage curve: the top-N
    tokens by corpus frequency and, per rank, the cumulative fraction
    of all token occurrences a vocabulary cut at that rank covers —
    the standard budget curve for sizing a tokenizer vocab.

    Scale shape: explode → map-side-combined token counts (one
    shuffle keyed on token — the vocab, not the corpus), the top-N
    selected with ``orderBy().limit()`` (TakeOrderedAndProject: each
    partition forwards only its local top-N, no global sort), and the
    running sum runs over ≤ top_n rows in a single trivially-small
    partition. The corpus-total is a broadcast 1-row aggregate. The
    only corpus-sized cost is the explode+count, which is the job.
    """
    toks = scale_out(documents).select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )
    tf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = tf.agg(F.sum("tf").alias("_total"))
    top = (
        tf.orderBy(F.desc("tf"), F.asc("token"))
        .limit(top_n)
        .crossJoin(F.broadcast(total))
    )
    w = (
        Window.orderBy(F.desc("tf"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("tf"), F.asc("token")))
        .cast("long")
        .alias("rank"),
        "token",
        "tf",
        F.round(F.sum("tf").over(w) / F.col("_total"), 6).alias("coverage"),
    )


#: BPE merge-candidate report size (top pairs by weighted frequency).
BPE_TOP_N = 50


def bpe_merge_pairs(documents: DataFrame, top_n: int = BPE_TOP_N) -> DataFrame:
    """BPE tokenizer-training step: adjacent symbol-pair counts over
    the corpus — the statistic one merge round of byte-pair encoding
    maximizes (Sennrich et al. 2016). Symbols here are the iteration-0
    alphabet (single characters within whitespace words); the top pair
    is the first merge a BPE trainer would make, and the table is the
    candidate list ``vocab_coverage`` assumes a finished tokenizer for.

    Scale shape — the corpus never carries the pair explosion: words
    reduce FIRST to a (word, freq) table via one map-side-combined
    count (vocab-sized, the same shuffle ``vocab_coverage`` pays), and
    the character-pair explode runs over DISTINCT words only — pair
    occurrences are weighted by the word's corpus frequency, giving
    identical counts to exploding the raw corpus at ~corpus/|vocab| of
    the cost. The pair rollup is again map-side-combined (alphabet²
    keys), and top-N is ``orderBy().limit()`` — TakeOrderedAndProject,
    each partition forwards its local top-N, no global sort. The
    vocabulary and the pair table live in executors end to end; the
    driver sees only the top-N rows.

    Output: (a, b, pair_count), count desc then (a, b) asc — a total
    order, so the limit boundary is deterministic.
    """
    words = (
        scale_out(documents)
        .select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
    )
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    pairs = (
        freq.filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> struct(substring(word, i, 1) AS a,"
                    " substring(word, i + 1, 1) AS b))"
                )
            ).alias("p"),
            "f",
        )
        .select("p.a", "p.b", "f")
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("f").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
        .limit(top_n)
    )


#: Default merge budget for the iterative BPE trainer. Real tokenizers
#: run 30k+ merges; the demo budget keeps the driver loop visible in
#: tests and the bench while exercising the exact per-round machinery.
BPE_TRAIN_MERGES = 8

#: Driver fast-path bound for the BPE trainers (the kcore/pagerank/ANN
#: hybrid discipline): a vocabulary (distinct words) at or under this
#: many rows trains on the driver — the merge loop is vocab-sized by
#: construction, and each distributed round otherwise costs two Spark
#: jobs of pure scheduling latency. ~100k words × ~100 B of symbol
#: strings ≈ 10 MB of driver state, bounded by the probe itself.
BPE_DRIVER_VOCAB_CAP = 100_000


def _bpe_fold_word(syms, pairs):
    """The trainers' left-fold merge, on the driver: append each
    symbol, or fuse the accumulator tail when (tail, s) equals a merge
    pair — FIRST matching pair in batch order wins, exactly the
    ``F.when`` chain the distributed fold builds."""
    out: list[str] = []
    for s in syms:
        fused = False
        if out:
            tail = out[-1]
            for a, b, ab in pairs:
                if tail == a and s == b:
                    out[-1] = ab
                    fused = True
                    break
        if not fused:
            out.append(s)
    return out


def _bpe_pair_counts(vocab):
    """Frequency-weighted adjacent-pair counts over a driver-held
    (syms, f) vocabulary — integer-exact, the same statistic the
    distributed aggregate computes."""
    counts: dict = {}
    for syms, f in vocab:
        for i in range(len(syms) - 1):
            k = (syms[i], syms[i + 1])
            counts[k] = counts.get(k, 0) + f
    return counts


def _bpe_driver_train(vocab_rows, n_merges):
    """Classic (one merge per round) BPE on a driver-held vocabulary.
    Identical recurrence to the distributed loop: argmax by
    (count desc, a asc, b asc) — Python's str compare is code-point
    order, which equals Spark's binary UTF8 string order — stop when
    no pair counts ≥ 2, the same left-fold rewrite per round."""
    vocab = [(list(r["syms"]), int(r["f"])) for r in vocab_rows]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts = _bpe_pair_counts(vocab)
        if not counts:
            break
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < 2:
            break
        merges.append((rank, a, b, int(n)))
        pairs = [(a, b, a + b)]
        vocab = [(_bpe_fold_word(syms, pairs), f) for syms, f in vocab]
    return merges


def _bpe_driver_train_batched(vocab_rows, n_merges, batch):
    """Batched BPE (`bpe_train_batched`'s algorithm) on a driver-held
    vocabulary: same candidate order, the same strict non-interaction
    admission, the same batched fold — merge-for-merge identical to
    the distributed loop."""
    vocab = [(list(r["syms"]), int(r["f"])) for r in vocab_rows]
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < n_merges:
        room = n_merges - len(merges)
        want = min(batch, room)
        counts = _bpe_pair_counts(vocab)
        top = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[: want * BPE_BATCH_HEADROOM]
        cands = [(a, b, n) for (a, b), n in top if n >= 2]
        if not cands:
            break
        used_syms: set = set()
        used_products: set = set()
        selected: list = []
        for a, b, n in cands:
            ab = a + b
            blocked = used_syms | used_products
            if (
                a in blocked
                or b in blocked
                or ab in used_syms
                or ab in used_products
            ):
                continue
            selected.append((a, b, n))
            used_syms.update((a, b))
            used_products.add(ab)
            if len(selected) == want:
                break
        if not selected:
            selected = [cands[0]]
        for a, b, n in selected:
            merges.append((len(merges) + 1, a, b, int(n)))
        pairs = [(a, b, a + b) for a, b, _n in selected]
        vocab = [(_bpe_fold_word(syms, pairs), f) for syms, f in vocab]
    return merges


def bpe_train(documents: DataFrame, n_merges: int = BPE_TRAIN_MERGES) -> DataFrame:
    """Iterative BPE tokenizer training (Sennrich et al. 2016): run
    ``n_merges`` merge rounds and return the learned, RANKED merge
    table — the artifact a BPE tokenizer ships (``merges.txt``).
    ``bpe_merge_pairs`` is one round's statistic; this is the loop.

    Scale shape — the k-means contract (tiny driver state, corpus-
    bounded executors): the corpus is scanned ONCE, reducing to a
    (word, freq, syms) vocabulary table; every round after that runs on
    the VOCAB-sized table only. Per round: (1) adjacent-pair counts
    weighted by word frequency — one map-side-combined aggregate over
    vocab rows, (2) the argmax pair comes to the driver as ONE row
    (count desc, then (a, b) asc: a total order, so training is
    deterministic on any partitioning), (3) the merge rewrites each
    word's symbol array with a left-fold (``aggregate``): append, or
    fuse the array tail when it equals the merge pair — the fold gives
    exactly the leftmost-nonoverlapping semantics of the reference BPE
    algorithm. The vocabulary is ``localCheckpoint``ed each round: the
    per-round plan stays one aggregate deep (no lineage pile-up, and —
    the r8 lesson — no CollapseProject lambda re-inlining across
    rounds).

    Driver state: ``n_merges`` chosen pairs, nothing else. Rows-only by
    design (an iterative fixed point isn't one SQL statement); pytest
    pins the learned merges against a pure-Python reference trainer.

    Output: (merge_rank, a, b, pair_count), rank asc — rank r is the
    r-th merge the tokenizer applies.
    """
    spark = documents.sparkSession
    vocab = (
        scale_out(documents)
        .select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(F.expr("split(word, '')").alias("syms"), "f")
        .localCheckpoint()
    )
    # Hybrid driver fast path (r17 opt — the kcore/pagerank/ANN
    # precedent): the merge loop runs on the VOCAB-sized table, and a
    # vocabulary under the cap trains on the driver with the identical
    # integer recurrence — replacing 2 Spark jobs per round with one
    # bounded probe collect. The probe IS the size check (it bounds
    # driver memory by construction); above the cap the distributed
    # loop below is unchanged.
    probe = hybrid.bounded_probe(vocab, BPE_DRIVER_VOCAB_CAP)
    if probe is not None:
        return driver_rows_df(
            spark,
            _bpe_driver_train(probe, n_merges),
            schema="merge_rank long, a string, b string, pair_count long",
        )
    adjacent = F.explode(
        F.expr(
            "transform(sequence(1, size(syms) - 1),"
            " i -> struct(element_at(syms, i) AS a,"
            " element_at(syms, i + 1) AS b))"
        )
    ).alias("p")
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            vocab.filter(F.size("syms") >= 2)
            .select(adjacent, "f")
            .groupBy("p.a", "p.b")
            .agg(F.sum("f").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break  # nothing left worth merging (BPE's stop condition)
        a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
        merges.append((rank, a, b, int(n)))
        # left-fold merge: literals go in as Columns (never string-
        # spliced into SQL — merged symbols contain arbitrary text)
        lit_a, lit_b, lit_ab = F.lit(a), F.lit(b), F.lit(a + b)
        vocab = vocab.select(
            F.aggregate(
                "syms",
                F.expr("CAST(array() AS array<string>)"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == lit_a)
                    & (s == lit_b),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(lit_ab)
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ).alias("syms"),
            "f",
        ).localCheckpoint()
    return driver_rows_df(spark,
        merges, schema="merge_rank long, a string, b string, pair_count long"
    )


#: Frozen ranked merge table for the corpus-scale ENCODE step — the
#: artifact a trained tokenizer ships (``merges.txt``). Learned by the
#: exact ``bpe_train`` procedure on the sf0.001 demo corpus (16
#: merges); production swaps in a real trained table, which changes
#: only this constant, not the machinery. Deployment shape: training
#: happens once, offline; encoding is the corpus-scale step.
BPE_FROZEN_MERGES: tuple[tuple[str, str], ...] = (
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"),
    ("s", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("m", "er"), ("a", "t"), ("a", "n"), ("c", "an"),
    ("s", "can"), ("c", "o"), ("co", "lu"), ("colu", "m"),
)


def bpe_word_tokens(
    word: Column, merges: tuple[tuple[str, str], ...] = BPE_FROZEN_MERGES
) -> Column:
    """Apply a ranked BPE merge table to one whitespace word → its
    token array, as a pure Column expression (a narrow projection — no
    shuffle, no UDF).

    Each merge is the SAME left-fold ``bpe_train`` uses in its rewrite
    step (append, or fuse the array tail when it equals the merge
    pair), applied in rank order. One fold per merge is EXACTLY the
    classic re-scanning BPE encoder: merging pair (a, b) creates the
    new symbol ``ab``, and any pair involving ``ab`` can only match a
    merge learned AFTER ``ab`` existed — i.e. a later rank — so no
    earlier merge can ever become applicable again. The merge count is
    a constant, so the folds nest into ONE expression whose input
    array is evaluated once per row (the r8 CollapseProject lambda
    trap applies to expressions INSIDE lambdas, not to a fold chain).
    """
    arr = F.split(word, "")
    empty = F.expr("CAST(array() AS array<string>)")
    # literals go in as Columns (never string-spliced into SQL —
    # merged symbols contain arbitrary text); a closure factory keeps
    # the lambda 2-ary (PySpark counts default args as HOF parameters)
    def make_fold(a: str, b: str):
        lit_a, lit_b, lit_ab = F.lit(a), F.lit(b), F.lit(a + b)

        def fold(acc, s):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == lit_a)
                & (s == lit_b),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lit_ab)),
            ).otherwise(F.concat(acc, F.array(s)))

        return fold

    for a, b in merges:
        arr = F.aggregate(arr, empty, make_fold(a, b))
    return arr


def bpe_encode(
    documents: DataFrame,
    merges: tuple[tuple[str, str], ...] = BPE_FROZEN_MERGES,
) -> DataFrame:
    """Corpus token census under a frozen BPE merge table — the encode
    step ``bpe_train`` learns merges FOR (``pack_docs``/``chunk_docs``
    count whitespace units; this is the real subword tokenize between
    them): every document tokenized, per-token corpus frequencies out.

    Scale shape — the fold work is VOCAB-sized, not corpus-sized: the
    corpus reduces first to a (word, freq) table (one map-side-combined
    count, the same shuffle ``vocab_coverage`` pays), each DISTINCT
    word is encoded once by the ``bpe_word_tokens`` fold chain, and
    token counts are weighted by word frequency. The output is bounded
    by |alphabet| + |merges| rows — every emitted token is either a
    single character or a merge product — so the final rollup is a
    map-side-combined aggregate onto a tiny key space and the result
    is driver-safe by construction.

    Output: (token, tf), tf desc then token asc — a total order.
    """
    freq = (
        scale_out(documents)
        .select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return (
        freq.select(
            F.explode(bpe_word_tokens(F.col("word"), merges)).alias("token"),
            "f",
        )
        .groupBy("token")
        .agg(F.sum("f").cast("long").alias("tf"))
        .orderBy(F.desc("tf"), F.asc("token"))
    )


def bpe_encode_docs(
    documents: DataFrame,
    merges: tuple[tuple[str, str], ...] = BPE_FROZEN_MERGES,
) -> DataFrame:
    """Per-document BPE token sequences — the corpus-scale artifact the
    packing/chunking stages consume (``bpe_encode`` is the census; this
    keeps token ORDER per document).

    Scale shape: the expensive fold chain still runs once per DISTINCT
    word (vocab-sized) — the document→word sequence ``posexplode``s,
    equi-joins the encoded vocabulary (word-keyed shuffle, AQE-sized),
    and regroups per document with ``array_sort(collect_list(struct))``
    so token order is position order regardless of partitioning. Per-
    document state is one document's token array — the same bound
    ``pack_docs`` already carries.

    Output: (doc_id, tokens array<string>, n_tokens).
    """
    words = scale_out(documents).select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda w: w != "",
            )
        ).alias("pos", "word"),
    )
    enc = (
        words.select("word")
        .distinct()
        .select("word", bpe_word_tokens(F.col("word"), merges).alias("toks"))
    )
    return (
        words.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                    lambda s: s["toks"],
                )
            ).alias("tokens")
        )
        .select(
            "doc_id", "tokens", F.size("tokens").cast("long").alias("n_tokens")
        )
    )


def bpe_fertility(
    documents: DataFrame,
    merges: tuple[tuple[str, str], ...] = BPE_FROZEN_MERGES,
) -> DataFrame:
    """Tokenizer fertility report per source: tokens-per-word and
    chars-per-token under the frozen merge table — the standard health
    metric for a tokenizer/corpus pairing (high fertility on one
    source means the vocabulary was trained on different text, and
    that source will pay more sequence length per content).

    Scale shape: per-(source, word) frequencies are one map-side-
    combined count; the fold chain runs once per DISTINCT word
    (vocab-sized — only its token COUNT survives, the arrays are never
    rematerialized downstream); the final rollup is ≤|sources| rows of
    integer sums, and both ratios divide identical integers on every
    engine before one 6-decimal rounding.

    Output: (source, n_words, n_tokens, n_chars, tokens_per_word,
    chars_per_token), source asc.
    """
    words = (
        scale_out(documents)
        .select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    enc = (
        words.select("word")
        .distinct()
        .select(
            "word",
            F.size(bpe_word_tokens(F.col("word"), merges))
            .cast("long")
            .alias("n_toks"),
            F.length("word").cast("long").alias("n_ch"),
        )
    )
    return (
        words.join(enc, "word")
        .groupBy("source")
        .agg(
            F.sum("f").cast("long").alias("n_words"),
            F.sum(F.col("f") * F.col("n_toks")).cast("long").alias("n_tokens"),
            F.sum(F.col("f") * F.col("n_ch")).cast("long").alias("n_chars"),
        )
        .select(
            "source",
            "n_words",
            "n_tokens",
            "n_chars",
            F.round(F.col("n_tokens") / F.col("n_words"), 6).alias(
                "tokens_per_word"
            ),
            F.round(F.col("n_chars") / F.col("n_tokens"), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("source")
    )


#: Heavy-hitter threshold divisor: report tokens with freq > N/k.
HH_K = 200


def heavy_hitters(documents: DataFrame, k: int = HH_K) -> DataFrame:
    """Corpus heavy hitters (tokens with frequency > N/k) via a
    Misra-Gries candidate pass + exact recount — genuinely TWO corpus
    passes.

    Pass 1 runs a k-counter Misra-Gries summary per partition inside
    one ``mapInPandas`` kernel — O(k) memory regardless of vocabulary
    size, and sound as a candidate filter (if x is in no partition's
    summary then its local count is ≤ N_p/k everywhere, so its global
    count is ≤ N/k: non-candidates provably cannot be heavy). The
    kernel also emits each partition's token count (as a NULL-token
    row), and the whole (≤ k+1 rows per partition) output is collected
    ONCE — so the corpus total and the candidate set cost no extra
    scan. Pass 2 semi-joins the broadcast candidates and recounts them
    EXACTLY, so the output is deterministic — independent of
    partitioning and of the sketch — and oracle-checkable, unlike
    sketch estimates. A full vocabulary groupBy (the naive plan)
    shuffles every distinct token; this shuffles only candidate
    occurrences.
    """
    import pandas as pd  # noqa: PLC0415

    spark = documents.sparkSession
    toks = scale_out(documents).select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )

    def mg(batches):
        counters: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for tok in pdf["token"]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < k:
                    counters[tok] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        # candidates + one NULL-token row carrying the partition count
        yield pd.DataFrame(
            {
                "token": list(counters) + [None],
                "n_part": [0] * len(counters) + [n_part],
            }
        )

    summary = toks.mapInPandas(mg, "token string, n_part long").collect()
    total = sum(r["n_part"] for r in summary if r["token"] is None)
    cand_tokens = sorted({r["token"] for r in summary if r["token"] is not None})
    if not cand_tokens or total == 0:
        return driver_rows_df(spark, [], "token string, tf long, freq double")
    cands = driver_rows_df(spark, [(t,) for t in cand_tokens], "token string")
    threshold = total / float(k)
    return (
        toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") > F.lit(threshold))
        .select(
            "token",
            "tf",
            F.round(F.col("tf") / F.lit(float(total)), 6).alias("freq"),
        )
    )


#: C4-style document-level blocklist (Raffel et al. 2020, §2.2: pages
#: containing any word from a "bad words" list are dropped WHOLE — the
#: doc-level companion to ``clean_lines``' line rules). Production runs
#: feed the multi-language LDNOOBW list here; the pinned stand-ins keep
#: the demo corpus family-friendly while exercising the same machinery.
#: Words must be regex-literal (no metacharacters) — matching is
#: token-bounded (``\b``) and case-insensitive via lowercasing, the
#: exact same semantics in Java regex and DuckDB's RE2.
C4_BLOCK_WORDS = ("clickbait", "spamword", "gambling")
#: URL shorteners / obfuscated-host patterns whose presence anywhere in
#: the document triggers the drop (link-spam marker).
C4_BLOCK_URL_RE = r"(bit\.ly/|tinyurl\.com/|\.onion\b)"


def blocklist_filter(
    documents: DataFrame,
    words: tuple[str, ...] = C4_BLOCK_WORDS,
    url_pattern: str = C4_BLOCK_URL_RE,
    text_col: str = "text",
) -> DataFrame:
    """C4 document-level blocklist verdicts: flag every document that
    contains a blocklisted word (token-bounded, case-insensitive) or a
    blocklisted URL pattern. Emits ALL rows with the verdict columns so
    the decision is auditable; the drop itself is the caller's
    ``.filter(~F.col("blocked"))`` (``curate_corpus`` composes passes
    the same way).

    Scale shape: a narrow per-row projection — two JVM regex predicates
    inside WholeStageCodegen over (doc_id, text) only; zero joins, zero
    shuffles, partition-inherited from the scan. The whole word list
    compiles into ONE alternation regex (a single DFA pass per row), so
    cost is corpus-linear regardless of list length; for blocklists too
    large for one pattern (100k+ entries), the alternative shape is
    token-explode + broadcast semi-join against the list, at the price
    of the explode — not needed for LDNOOBW-scale lists.

    Output: (doc_id, has_block_word, has_block_url, blocked).
    """
    for w in words:
        if not w.isalnum():
            raise ValueError(f"blocklist word must be regex-literal: {w!r}")
    lowered = F.lower(F.col(text_col))
    if words:
        word_re = r"\b(" + "|".join(words) + r")\b"
        has_word = lowered.rlike(word_re)
    else:
        # an empty alternation would be \b()\b — matching EVERY doc
        # with a word character; no words means no word rule
        has_word = F.lit(False)
    has_url = lowered.rlike(url_pattern)
    return scale_out(documents).select(
        "doc_id",
        has_word.alias("has_block_word"),
        has_url.alias("has_block_url"),
        (has_word | has_url).alias("blocked"),
    )


#: Gopher document-quality rule constants (Rae et al. 2021, "Scaling
#: Language Models: ... Gopher", Appendix A1.1): the canonical
#: pre-training quality gate between C4's heuristics and model-based
#: filters. Ratios are integer-derived (int sums / int counts) so the
#: rule comparisons are the same IEEE doubles in Spark and DuckDB.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.1
GOPHER_MAX_BULLET_LINE_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2


def gopher_quality(documents: DataFrame) -> DataFrame:
    """Gopher quality-rule verdicts, one row per document: the word
    count / mean-word-length / symbol-ratio / bullet & ellipsis line /
    alphabetic-word / stop-word rules from Gopher A1.1, each emitted as
    its metric plus the rule verdict, and the conjunction as ``passes``
    (the doc survives the Gopher gate). Like ``blocklist_filter`` the
    drop itself is the caller's ``.filter("passes")`` — verdict
    columns keep the decision auditable and each rule's firing rate
    measurable (the data-card question "what did this gate remove?").

    Scale shape: entirely in-row — token/line arrays via ``split``,
    rule metrics via higher-order ``aggregate``/``filter``/``exists``;
    zero joins, zero shuffles, one WholeStageCodegen projection over
    (doc_id, text). The same shape as ``clean_lines``; nothing here
    grows with corpus size.

    Output: (doc_id, n_words, mean_word_len, symbol_word_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
    n_stopwords_present, passes).
    """
    ws = F.split(F.trim(F.col("text")), r"\s+")
    lines = F.split(F.col("text"), "\n")
    n_words = F.size(ws)
    # integer char sum over tokens -> double division (engine-exact)
    char_sum = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = char_sum / n_words
    n_hash = F.length(F.col("text")) - F.length(
        F.regexp_replace("text", "#", "")
    )
    n_ellipsis = F.size(F.split(F.col("text"), r"\.\.\.", -1)) - 1
    symbol_ratio = (n_hash + n_ellipsis) / n_words
    n_bullet_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike("^[•*-]"))
    )
    n_ellipsis_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike("(\\.\\.\\.|…)$"))
    )
    bullet_frac = n_bullet_lines / F.size(lines)
    ellipsis_frac = n_ellipsis_lines / F.size(lines)
    alpha_frac = F.size(
        F.filter(ws, lambda w: w.rlike("[A-Za-z]"))
    ) / n_words
    # stop-word containment tests LOWERCASED, punctuation-stripped
    # tokens ('The', 'the,' both count) — the Gopher A1.1 convention;
    # raw-token matching undercounts and false-fails the gate on docs
    # whose only stop words are capitalized or punctuation-adjacent
    norm_ws = F.transform(
        ws, lambda w: F.regexp_replace(F.lower(w), "[^a-z0-9]", "")
    )
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(
        F.filter(stop_arr, lambda s: F.array_contains(norm_ws, s))
    )
    passes = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_word_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_word_len <= GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_WORD_RATIO)
        & (bullet_frac <= GOPHER_MAX_BULLET_LINE_FRAC)
        & (ellipsis_frac <= GOPHER_MAX_ELLIPSIS_LINE_FRAC)
        & (alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
    )
    return scale_out(documents).select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_word_ratio"),
        F.round(bullet_frac, 4).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        n_stop.cast("long").alias("n_stopwords_present"),
        passes.alias("passes"),
    )


def gopher_repetition(documents: DataFrame) -> DataFrame:
    """Gopher/Dolma WITHIN-document repetition fractions (Rae et al.
    2021 A1.1 "repetition" rules — the filter family that catches
    generator loops, scraped boilerplate stutter, and chat transcripts
    that token-level ``repetition_stats`` misses because the repeats
    are phrases, not single tokens):

    - ``dup_line_frac`` / ``dup_line_char_frac`` — fraction of lines
      (resp. line characters) occurring more than once in the doc.
    - ``top_2gram_char_frac`` / ``top_3gram_char_frac`` — characters
      covered by the highest-coverage word n-gram (count × gram chars,
      spaces included) over the single-space-normalized text length.
      Pinned as max over count×len rather than "chars of the most
      frequent gram" so ties are well-defined identically in both
      engines.
    - ``dup_5gram_char_frac`` — fraction of token characters covered
      by at least one duplicated word 5-gram (position-coverage union,
      so overlapping duplicate windows never double-count).

    Scale shape (r18, guide §4.2 — "pre-counted emission"): the five
    repetition rules are all WITHIN-document statistics, so nothing
    here ever needed a shuffle — the old shape (explode per-doc units
    → (doc_id, n, gram) count exchange → per-doc regroup exchange →
    doc_id join back) paid two corpus-keyed exchanges and a join to
    count duplicates that never leave their own row. Now ONE
    ``mapInPandas`` pass over the Spark-split (lines, ws) arrays
    computes the exact integer numerators and denominators per doc
    (Counter passes — native-code dict counting per §4.2), and the
    final fractions stay the SAME Spark expressions over those exact
    ints, so the IEEE arithmetic is unchanged. Zero exchanges, zero
    joins, corpus-linear; tokenization stays in the JVM (`split` /
    `trim`) so the Python side only ever counts.

    Output: (doc_id, dup_line_frac, dup_line_char_frac,
    top_2gram_char_frac, top_3gram_char_frac, dup_5gram_char_frac).
    """
    base = scale_out(documents).select(
        "doc_id",
        F.split(F.col("text"), "\n").alias("lines"),
        F.split(F.trim(F.col("text")), r"\s+").alias("ws"),
    )
    id_type = documents.schema["doc_id"].dataType.simpleString()

    def kernel(batches):
        from collections import Counter  # noqa: PLC0415

        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out = {
                "doc_id": pdf["doc_id"].to_numpy(),
                "char_sum": [],
                "line_chars": [],
                "n_lines": [],
                "n_ws": [],
                "dup_lines": [],
                "dup_line_chars": [],
                "top2_chars": [],
                "top3_chars": [],
                "dup5_chars": [],
            }
            for lines, ws in zip(pdf["lines"], pdf["ws"]):
                # NULL text → NULL split arrays: the old plan produced
                # no units (coalesce-0 numerators) and NULL denominators
                if lines is None or ws is None:
                    out["char_sum"].append(None)
                    out["line_chars"].append(None)
                    out["n_lines"].append(None)
                    out["n_ws"].append(None)
                    out["dup_lines"].append(0)
                    out["dup_line_chars"].append(0)
                    out["top2_chars"].append(0)
                    out["top3_chars"].append(0)
                    out["dup5_chars"].append(0)
                    continue
                lines = list(lines)
                ws = list(ws)
                # len() and Spark length() both count code points
                out["char_sum"].append(sum(len(w) for w in ws))
                out["line_chars"].append(sum(len(l) for l in lines))
                out["n_lines"].append(len(lines))
                out["n_ws"].append(len(ws))
                lc = Counter(lines)
                out["dup_lines"].append(
                    sum(c for c in lc.values() if c >= 2)
                )
                out["dup_line_chars"].append(
                    sum(c * len(g) for g, c in lc.items() if c >= 2)
                )
                # top n-gram coverage: max over cnt × joined-gram chars
                # (token chars + n−1 separator spaces — exactly
                # length(array_join(..., ' ')), tokens can't contain
                # the split whitespace)
                for n, key in ((2, "top2_chars"), (3, "top3_chars")):
                    gc = Counter(zip(*(ws[i:] for i in range(n)))) \
                        if len(ws) >= n else Counter()
                    out[key].append(
                        max(
                            (
                                c * (sum(len(t) for t in g) + n - 1)
                                for g, c in gc.items()
                            ),
                            default=0,
                        )
                    )
                # duplicated-5-gram position-coverage union
                if len(ws) >= 5:
                    pos: dict = {}
                    for s, g in enumerate(
                        zip(*(ws[i:] for i in range(5)))
                    ):
                        pos.setdefault(g, []).append(s)
                    covered: set = set()
                    for starts in pos.values():
                        if len(starts) >= 2:
                            for s in starts:
                                covered.update(range(s, s + 5))
                    out["dup5_chars"].append(
                        sum(len(ws[p]) for p in covered)
                    )
                else:
                    out["dup5_chars"].append(0)
            yield pd.DataFrame(out)

    joined = base.mapInPandas(
        kernel,
        f"doc_id {id_type}, char_sum long, line_chars long, "
        "n_lines long, n_ws long, dup_lines long, dup_line_chars long, "
        "top2_chars long, top3_chars long, dup5_chars long",
    )
    dup5_chars = F.col("dup5_chars")
    norm_chars = F.col("char_sum") + F.col("n_ws") - 1
    # least(1.0): count × len over-counts OVERLAPPING occurrences of a
    # self-overlapping gram ("go go go ..."), which would push a
    # "fraction" past 1; the threshold-filter semantics only need the
    # bounded value, and the cap is engine-exact
    frac = lambda num, den: F.round(  # noqa: E731
        F.when(den > 0, F.least(F.lit(1.0), num / den)).otherwise(
            F.lit(0.0)
        ),
        4,
    )
    return joined.select(
        "doc_id",
        frac(F.col("dup_lines"), F.col("n_lines")).alias("dup_line_frac"),
        frac(F.col("dup_line_chars"), F.col("line_chars")).alias(
            "dup_line_char_frac"
        ),
        frac(F.col("top2_chars"), norm_chars).alias("top_2gram_char_frac"),
        frac(F.col("top3_chars"), norm_chars).alias("top_3gram_char_frac"),
        frac(dup5_chars, F.col("char_sum")).alias("dup_5gram_char_frac"),
    )


#: N-gram diversity default n (bigrams — the standard self-repetition
#: diversity unit; unigram TTR is too vocabulary-bound, higher n too
#: sparse to compare across sources).
DIVERSITY_N = 2


def ngram_diversity(documents: DataFrame, n: int = DIVERSITY_N) -> DataFrame:
    """Per-source n-gram diversity: distinct-over-total word-``n``-gram
    ratio (n-gram type/token ratio) — the corpus-level diversity signal
    mixture designers read next to the WITHIN-doc ``gopher_repetition``
    fractions (a source can pass every per-doc repetition gate while
    being templated ACROSS documents; its low TTR is what shows it, and
    what upsampling that source would amplify).

    Scale shape: grams explode once per document position and collapse
    on (source, gram) with map-side combine — the only corpus-keyed
    exchange; the per-source rollup re-keys the already-distinct gram
    table (≤ distinct-gram rows, the same two-level distinct discipline
    as `part_supplier_variety`). Doc totals come from a second scan
    that reads ONLY the source column (column-pruned — at 100 TB it
    reads one thin column, not the text). Counts are exact integers;
    the ratio is one IEEE division of exact operands.

    Output: (source, n_docs, n_grams, n_distinct_grams, gram_ttr),
    source asc. Docs shorter than ``n`` tokens contribute no grams but
    count in ``n_docs``.
    """
    # gram construction via a zip_with chain: every reference to the
    # split() word array sits OUTSIDE the lambdas (slice arguments), so
    # whole-stage-codegen subexpression elimination evaluates the split
    # once per row — referencing it INSIDE a higher-order-function
    # lambda would be inlined by CollapseProject and re-evaluated per
    # element, turning each doc O(len^2) (the measured 6 s -> 1.5 s
    # difference at sf0.1)
    ws = "split(trim(text), '\\\\s+')"
    out_len = f"(size({ws}) - {n - 1})"
    acc = f"slice({ws}, 1, {out_len})"
    for k in range(2, n + 1):
        acc = (
            f"zip_with({acc}, slice({ws}, {k}, {out_len}), "
            f"(x, y) -> concat(x, ' ', y))"
        )
    grams = documents.select(
        "source",
        F.expr(
            f"CASE WHEN size({ws}) >= {n} THEN {acc} "
            f"ELSE CAST(array() AS array<string>) END"
        ).alias("gs"),
    ).select("source", F.explode("gs").alias("g"))
    per_gram = grams.groupBy("source", "g").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    gram_stats = per_gram.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_grams"),
    )
    docs = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        docs.join(gram_stats, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_distinct_grams", F.lit(0))
            .cast("long")
            .alias("n_distinct_grams"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.round(
                    F.col("n_distinct_grams").cast("double")
                    / F.col("n_grams").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("gram_ttr"),
        )
        .orderBy("source")
    )


#: The comparison merge table for tokenizer-swap reports: the frozen
#: table truncated to half rank — "the smaller vocabulary we are
#: considering migrating from/to". Real migrations pass both tables.
BPE_MERGES_SMALL: tuple[tuple[str, str], ...] = BPE_FROZEN_MERGES[
    : len(BPE_FROZEN_MERGES) // 2
]


def tokenizer_swap_report(
    documents: DataFrame,
    merges_a: tuple[tuple[str, str], ...] = BPE_FROZEN_MERGES,
    merges_b: tuple[tuple[str, str], ...] = BPE_MERGES_SMALL,
) -> DataFrame:
    """Tokenizer-migration impact report: per-source token counts and
    fertility under TWO merge tables, plus the sequence-budget ratio a
    swap would impose — the table a team reads before changing
    tokenizers (the same corpus pays `token_ratio`× its current
    sequence budget per source; a source where the ratio spikes is
    where the new vocabulary mismatches the text).

    Scale shape: ONE corpus scan to (source, word) frequencies; BOTH
    fold chains run once per DISTINCT word in the same vocab-sized
    projection (two more columns, not two more passes — the join and
    rollup are shared); ≤|sources|-row integer rollup; each ratio is
    one division of exact integers.

    Output: (source, n_words, tokens_a, tokens_b, fertility_a,
    fertility_b, token_ratio = tokens_b / tokens_a), source asc.
    """
    words = (
        scale_out(documents)
        .select(
            "source",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    enc = (
        words.select("word")
        .distinct()
        .select(
            "word",
            F.size(bpe_word_tokens(F.col("word"), merges_a))
            .cast("long")
            .alias("na"),
            F.size(bpe_word_tokens(F.col("word"), merges_b))
            .cast("long")
            .alias("nb"),
        )
    )
    return (
        words.join(enc, "word")
        .groupBy("source")
        .agg(
            F.sum("f").cast("long").alias("n_words"),
            F.sum(F.col("f") * F.col("na")).cast("long").alias("tokens_a"),
            F.sum(F.col("f") * F.col("nb")).cast("long").alias("tokens_b"),
        )
        .select(
            "source",
            "n_words",
            "tokens_a",
            "tokens_b",
            F.round(F.col("tokens_a") / F.col("n_words"), 6).alias(
                "fertility_a"
            ),
            F.round(F.col("tokens_b") / F.col("n_words"), 6).alias(
                "fertility_b"
            ),
            F.round(F.col("tokens_b") / F.col("tokens_a"), 6).alias(
                "token_ratio"
            ),
        )
        .orderBy("source")
    )


#: Batched-trainer defaults: merges applied per round, and the
#: candidate headroom factor (rows fetched per round = batch × factor,
#: so rejected interacting pairs don't stall a round).
BPE_BATCH_SIZE = 4
BPE_BATCH_HEADROOM = 8


def bpe_train_batched(
    documents: DataFrame,
    n_merges: int = BPE_TRAIN_MERGES,
    batch: int = BPE_BATCH_SIZE,
) -> DataFrame:
    """Batched BPE training — the documented scale path for
    ``bpe_train``'s round-sequential limit (a production 30k-merge run
    is 30k sequential Spark jobs there; at ``batch`` = 256 it becomes
    ~120): per round, ONE pair-count aggregate, the top candidates to
    the driver, and a NON-INTERACTING subset applied in a single
    rewrite pass.

    Batch admission is strict so a round's merges commute: a candidate
    is rejected if either of its symbols equals any already-selected
    pair's symbol OR product, or its product equals a selected
    product. Under that rule no candidate can touch another's match
    sites and no within-pass cascade is possible, so applying the
    batch in one fold equals applying its members sequentially in any
    order. The cost vs classic BPE is FREQUENCY STALENESS, not
    reordering: pairs selected 2nd..k-th in a round are ranked by
    counts taken before the 1st was applied — the standard batched-
    trainer trade (the exact greedy sequence is recovered at
    ``batch=1``, pinned in pytest; the batched table is pinned against
    a pure-Python reference of the SAME algorithm).

    Scale shape per round: one vocab-sized aggregate, ≤ batch ×
    headroom rows to the driver, one fold-rewrite projection, one
    ``localCheckpoint``. Driver state: the learned pairs, nothing
    else.

    Output: (merge_rank, a, b, pair_count), rank asc — ``pair_count``
    is the count observed at the round's start (stale within a round
    by construction).
    """
    spark = documents.sparkSession
    vocab = (
        scale_out(documents)
        .select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(F.expr("split(word, '')").alias("syms"), "f")
        .localCheckpoint()
    )
    # Hybrid driver fast path — same probe discipline as `bpe_train`;
    # the batched admission and fold are merge-for-merge identical.
    probe = hybrid.bounded_probe(vocab, BPE_DRIVER_VOCAB_CAP)
    if probe is not None:
        return driver_rows_df(
            spark,
            _bpe_driver_train_batched(probe, n_merges, batch),
            schema="merge_rank long, a string, b string, pair_count long",
        )
    adjacent = F.explode(
        F.expr(
            "transform(sequence(1, size(syms) - 1),"
            " i -> struct(element_at(syms, i) AS a,"
            " element_at(syms, i + 1) AS b))"
        )
    ).alias("p")
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < n_merges:
        room = n_merges - len(merges)
        want = min(batch, room)
        top = (
            vocab.filter(F.size("syms") >= 2)
            .select(adjacent, "f")
            .groupBy("p.a", "p.b")
            .agg(F.sum("f").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(want * BPE_BATCH_HEADROOM)
            .collect()
        )
        cands = [r for r in top if r["n"] >= 2]
        if not cands:
            break  # BPE's stop condition
        used_syms: set[str] = set()
        used_products: set[str] = set()
        selected: list = []
        for r in cands:
            a, b, ab = r["a"], r["b"], r["a"] + r["b"]
            blocked = used_syms | used_products
            if a in blocked or b in blocked or ab in used_syms \
                    or ab in used_products:
                continue
            selected.append(r)
            used_syms.update((a, b))
            used_products.add(ab)
            if len(selected) == want:
                break
        if not selected:
            # every candidate interacts with a better one: fall back to
            # a batch of one so the round always progresses
            selected = [cands[0]]
        for r in selected:
            merges.append(
                (len(merges) + 1, r["a"], r["b"], int(r["n"]))
            )
        pairs = [(F.lit(r["a"]), F.lit(r["b"]), F.lit(r["a"] + r["b"]))
                 for r in selected]

        # closure factory keeps the lambda 2-ary (PySpark counts
        # default args as HOF parameters — the bpe_word_tokens lesson)
        def make_fold(batch_pairs):
            def fold(acc, s):
                fused = None
                for lit_a, lit_b, lit_ab in batch_pairs:
                    hit = (
                        (F.size(acc) > 0)
                        & (F.element_at(acc, -1) == lit_a)
                        & (s == lit_b)
                    )
                    step = F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(lit_ab)
                    )
                    fused = (
                        F.when(hit, step) if fused is None
                        else fused.when(hit, step)
                    )
                return fused.otherwise(F.concat(acc, F.array(s)))

            return fold

        vocab = vocab.select(
            F.aggregate(
                "syms",
                F.expr("CAST(array() AS array<string>)"),
                make_fold(pairs),
            ).alias("syms"),
            "f",
        ).localCheckpoint()
    return driver_rows_df(spark,
        merges, schema="merge_rank long, a string, b string, pair_count long"
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (Robertson/Spärck Jones; the Lucene idf variant)

#: Okapi BM25 hyper-parameters (the Lucene/ES defaults).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
#: Fixed demo query set: (query_id, terms). Queries are CONSTANTS of the
#: operator (the driver-compare contract needs a deterministic result
#: set); a serving deployment passes its own.
BM25_QUERIES = (
    ("hash join", ("hash", "join")),
    ("window agg stream", ("window", "agg", "stream")),
    ("vector scan filter", ("vector", "scan", "filter")),
)


def bm25_search(
    documents: DataFrame,
    queries=BM25_QUERIES,
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = BM25_TOPK,
) -> DataFrame:
    """BM25 top-k retrieval for a small fixed query set — the lexical
    search baseline a curation stack runs next to the embedding ANN
    family (hybrid retrieval; also the standard quality probe for "did
    my filtering destroy topical coverage").

    Scale shape — NO inverted index is materialized because the query
    term set is tiny and known: ONE narrow corpus projection computes,
    per document, the token count (``dl``) and each query term's
    ``tf`` as JVM array expressions (no explode, no corpus shuffle);
    a 1-row global aggregate (N, Σdl, per-term df — exact integers)
    broadcasts back; scoring + the per-query stack are more columns on
    the same projection, and the final top-k is a ranking window over
    ``stack``ed (query, doc) rows that each partition pre-prunes
    nothing from — at ≤ |queries|·|docs| rows it is the cheap side of
    the plan. At 100 TB this is exactly one pass over the text column.

    Engine parity: ``avgdl = Σdl / N`` (exact-integer division, ONE
    IEEE op), idf = ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (Lucene's
    non-negative variant) on exact-integer operands, and each query's
    score is a literal left-to-right sum of its per-term expressions —
    no float aggregation anywhere, so Spark and the SQL oracle compute
    bit-identical doubles (the ``unigram_logprob`` ln-parity
    precedent). Output: (query, doc_id, score round-4, rank), zero-hit
    docs dropped.
    """
    # ONE tokenization definition, shared with the oracle: collapse ALL
    # whitespace (tabs/newlines included) to single spaces BEFORE trim —
    # plain trim strips only spaces, so a leading tab would survive and
    # split() would emit an extra empty token (dl off by one vs oracle).
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    all_terms = sorted({t for _, terms in queries for t in terms})

    def _eq(term: str):
        # single-arg closure on purpose: a 2-arg lambda (even with a
        # bound default) makes F.filter pass the ELEMENT INDEX as the
        # second argument and the predicate silently never matches
        return lambda x: x == F.lit(term)

    # per_doc feeds BOTH the global stats aggregate and the scoring
    # projection; without pinning, each consumer re-scans (and
    # re-tokenizes) the text column. The checkpoint materializes only
    # the narrow (doc_id, dl, tf_*) rows — ~80 bytes/row vs re-reading
    # documents twice (the bloom_join_revenue single-scan discipline).
    per_doc = (
        scale_out(documents)
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("dl"),
            *[
                F.size(F.filter(toks, _eq(t))).cast("long").alias(f"tf_{t}")
                for t in all_terms
            ],
        )
        .localCheckpoint(eager=False)
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in all_terms
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    )

    def term_score(t: str):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{t}") + F.lit(0.5))
            / (F.col(f"df_{t}") + F.lit(0.5))
        )
        tf = F.col(f"tf_{t}").cast("double")
        return idf * tf * F.lit(k1 + 1.0) / (tf + norm)

    q_cols = []
    for qid, terms in queries:
        s = term_score(terms[0])
        for t in terms[1:]:
            s = s + term_score(t)
        q_cols.append((qid, s))
    stack_expr = F.expr(
        "stack({n}, {args}) AS (query, score_raw)".format(
            n=len(q_cols),
            args=", ".join(f"'{qid}', _s{i}" for i, (qid, _) in enumerate(q_cols)),
        )
    )
    stacked = scored.select(
        "doc_id", *[s.alias(f"_s{i}") for i, (_, s) in enumerate(q_cols)]
    ).select("doc_id", stack_expr)
    w = Window.partitionBy("query").orderBy(
        F.desc("score_raw"), F.asc("doc_id")
    )
    return (
        stacked.filter(F.col("score_raw") > 0)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query",
            "doc_id",
            F.round("score_raw", 4).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


#: Sentence terminator runs — "..." and "?!" count as ONE boundary.
#: Shared literally by the Spark expression and the oracle SQL (Java
#: regex and DuckDB's RE2 agree on this class).
SENTENCE_TERM_RE = "[.!?]+"

#: Explicit ASCII whitespace class (the ``_ASCII_WS`` / ``BPE_UNIT_RE``
#: discipline: Java ``\s`` and RE2 ``\s`` disagree on vertical tab).
#: Raw string so BOTH engines receive the escape sequences.
CHAR_CLASS_WS_RE = r"[ \t\n\x0b\f\r]"

#: Terminal-ender rule: last non-whitespace character is a sentence
#: terminator. Anchored with ``\z`` (absolute end-of-text in BOTH
#: Java regex and RE2) — ``$`` DIVERGES between the engines (Java
#: matches just before a final line terminator, RE2 only at true
#: end), so a doc ending ``"sentence.\n"`` would count as terminated
#: in Spark but not in the DuckDB oracle. Raw string, shared
#: literally by both engines (parity pinned for \n / \r\n / \t /
#: \x0b tails in tests).
TERMINAL_END_RE = "[.!?]" + CHAR_CLASS_WS_RE + r"*\z"

#: C4's sentence floor: pages with fewer than 3 sentences are dropped
#: (Raffel et al. 2020 §2.2). The report measures the rule's firing
#: rate instead of silently applying it.
C4_MIN_SENTENCES = 3


def sentence_stats(documents: DataFrame) -> DataFrame:
    """Per-source sentence-structure report — the C4 gate family's
    missing signal level (Gopher rules are word- and line-level;
    C4 §2.2 filters on SENTENCES: ≥3 sentences per page, lines ending
    in terminal punctuation). Per source: document count, total
    sentences, sentences per doc, words per sentence, the fraction of
    docs passing the C4 3-sentence floor, and the fraction whose last
    NON-WHITESPACE character is a sentence terminator
    (``TERMINAL_END_RE`` — ``\\z``-anchored because Java's ``$``
    matches before a final newline while RE2's does not).

    Engine parity: a sentence boundary is one ``[.!?]+`` run
    (``SENTENCE_TERM_RE`` — shared literally; "..." is ONE boundary),
    counted by ``regexp_count`` in Spark and
    ``len(regexp_extract_all(...))`` in DuckDB; words are the shared
    ``n_tokens`` length-difference rule; every fraction is a single
    IEEE division of exact integers (zero-sentence denominators
    guarded to NULL identically on both engines).

    Scale shape: ONE text scan evaluates the per-doc counts in a
    narrow codegen projection, one map-side-combined groupBy collapses
    to ≤|sources| rows — no window, no join, nothing corpus-sized
    past the scan. Output: (source, n_docs, n_sentences,
    avg_sentences_per_doc, avg_words_per_sentence, min3_frac,
    terminal_frac), all rounds 6.
    """
    n_sent = F.regexp_count(F.col("text"), F.lit(SENTENCE_TERM_RE))
    per_doc = scale_out(documents).select(
        "source",
        n_sent.cast("long").alias("_ns"),
        n_tokens(F.col("text")).alias("_nw"),
        (n_sent >= C4_MIN_SENTENCES).cast("long").alias("_min3"),
        F.col("text").rlike(TERMINAL_END_RE).cast("long").alias("_term"),
    )
    rolled = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_ns").cast("long").alias("n_sentences"),
        F.sum("_nw").cast("long").alias("_words"),
        F.sum("_min3").cast("long").alias("_n_min3"),
        F.sum("_term").cast("long").alias("_n_term"),
    )
    return rolled.select(
        "source",
        "n_docs",
        "n_sentences",
        F.round(
            F.col("n_sentences").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("avg_sentences_per_doc"),
        F.round(
            F.when(
                F.col("n_sentences") > 0,
                F.col("_words").cast("double")
                / F.col("n_sentences").cast("double"),
            ),
            6,
        ).alias("avg_words_per_sentence"),
        F.round(
            F.col("_n_min3").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("min3_frac"),
        F.round(
            F.col("_n_term").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("terminal_frac"),
    )


def char_class_profile(documents: DataFrame) -> DataFrame:
    """Per-source character-class composition — the FineWeb/Dolma
    non-alphabetic gates' input ("what fraction of this crawl is
    letters vs digits vs whitespace vs symbols?"; a source whose
    other_frac spikes is markup, tables, or mojibake — feed it to
    ``fix_encoding`` / ``clean_lines`` before the token gates).

    Engine parity: each class count is the exact length-difference
    under a character-class removal (``regexp_replace`` — global by
    default in Spark, ``'g'`` flag in the DuckDB oracle); whitespace
    is the explicit ``[ \\t\\n\\x0b\\f\\r]`` class (the ``_ASCII_WS``
    discipline — Java ``\\s`` and RE2 ``\\s`` disagree on vertical
    tab); "other" is the remainder, so the four fractions partition
    every character by construction. Fractions are single IEEE
    divisions of exact integers.

    Scale shape: ONE text scan, narrow codegen projection of 4 counts,
    one map-side-combined groupBy to ≤|sources| rows. Output:
    (source, n_docs, n_chars, alpha_frac, digit_frac, space_frac,
    other_frac), fractions round 6.
    """
    t = F.col("text")

    def removed(pattern: str):
        return (
            F.length(t) - F.length(F.regexp_replace(t, pattern, ""))
        ).cast("long")

    per_doc = scale_out(documents).select(
        "source",
        F.length(t).cast("long").alias("_nc"),
        removed("[A-Za-z]").alias("_na"),
        removed("[0-9]").alias("_nd"),
        removed(CHAR_CLASS_WS_RE).alias("_nw"),
    )
    rolled = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nc").cast("long").alias("n_chars"),
        F.sum("_na").cast("long").alias("_alpha"),
        F.sum("_nd").cast("long").alias("_digit"),
        F.sum("_nw").cast("long").alias("_space"),
    )
    frac = lambda c: F.round(  # noqa: E731
        c.cast("double") / F.col("n_chars").cast("double"), 6
    )
    return rolled.select(
        "source",
        "n_docs",
        "n_chars",
        frac(F.col("_alpha")).alias("alpha_frac"),
        frac(F.col("_digit")).alias("digit_frac"),
        frac(F.col("_space")).alias("space_frac"),
        frac(
            F.col("n_chars") - F.col("_alpha") - F.col("_digit")
            - F.col("_space")
        ).alias("other_frac"),
    )


#: Syllable heuristic: one vowel GROUP per syllable ("readable" →
#: ea|a|e = 3; y counts as a vowel — "syllable" → 3). The classic
#: Flesch implementation trade (hyphenation dictionaries don't exist
#: at corpus scale); counted over the whole lowercased text in one
#: pass — whitespace breaks runs, so this equals the per-word sum.
#: Shared literally by both engines (plain character class, no
#: engine-divergent syntax).
SYLLABLE_RE = "[aeiouy]+"


def readability_profile(documents: DataFrame) -> DataFrame:
    """Per-source readability — Flesch Reading Ease and Flesch-Kincaid
    grade (Kincaid et al. 1975), the canonical readability gate the
    quality-classifier family approximates (educational-value filters
    à la FineWeb-edu rank on exactly these signals; a source whose FRE
    collapses is OCR noise, legalese, or code, and should be routed
    before the token gates).

    Engine parity: the three raw counts are exact integers both
    engines compute identically — words (the shared ``n_tokens``
    length-difference rule), sentences (``SENTENCE_TERM_RE`` runs —
    ``regexp_count`` Spark / ``len(regexp_extract_all)`` DuckDB), and
    syllables (``SYLLABLE_RE`` vowel-group runs, same mechanism).
    Scores are MICRO-averaged: summed exact integers feed ONE IEEE
    division each (words/sentence, syllables/word), then the Flesch
    affine forms evaluate in the same literal order on both engines —
    bit-identical before the round-6. A macro (per-doc mean) score
    would sum order-dependent doubles; deliberately not offered.
    Zero-sentence / zero-word sources guard both scores to NULL.

    Scale shape: ONE text scan evaluates the three counting
    expressions in a narrow whole-stage-codegen projection, one
    map-side-combined groupBy collapses to ≤|sources| rows — no
    window, no join, nothing corpus-sized past the scan.

    Output: (source, n_docs, words, sentences, syllables,
    words_per_sentence, syllables_per_word, flesch_reading_ease,
    fk_grade), ratios and scores rounded 6.
    """
    rolled = (
        scale_out(documents)
        .select(
            "source",
            n_tokens(F.col("text")).alias("_w"),
            F.regexp_count(F.col("text"), F.lit(SENTENCE_TERM_RE))
            .cast("long")
            .alias("_s"),
            F.regexp_count(F.lower(F.col("text")), F.lit(SYLLABLE_RE))
            .cast("long")
            .alias("_y"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_w").cast("long").alias("words"),
            F.sum("_s").cast("long").alias("sentences"),
            F.sum("_y").cast("long").alias("syllables"),
        )
    )
    wps = F.col("words").cast("double") / F.col("sentences").cast(
        "double"
    )
    spw = F.col("syllables").cast("double") / F.col("words").cast(
        "double"
    )
    valid = (F.col("sentences") > 0) & (F.col("words") > 0)
    return rolled.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.round(
            F.when(F.col("sentences") > 0, wps), 6
        ).alias("words_per_sentence"),
        F.round(
            F.when(F.col("words") > 0, spw), 6
        ).alias("syllables_per_word"),
        F.round(
            F.when(
                valid,
                F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
            ),
            6,
        ).alias("flesch_reading_ease"),
        F.round(
            F.when(
                valid,
                F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59),
            ),
            6,
        ).alias("fk_grade"),
    )


#: Decile grid for the vocabulary-growth curve; the bucket rule is the
#: shared integer-quintile discipline (``5 − ((rank−1)·5 div n)`` in
#: ``rfm_segments``) flipped to ascending deciles.
VOCAB_GROWTH_BUCKETS = 10


def vocab_growth(
    documents: DataFrame,
    n_buckets: int = VOCAB_GROWTH_BUCKETS,
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve — how many NEW types each
    corpus decile contributes (reference behavior: the scholar-stream
    warehouse exposes only static per-source rollups; this is the
    dynamic companion every tokenizer/mixture designer reads before
    freezing a vocab: if the curve is still rising at the last decile,
    the corpus has unseen vocabulary and the OOV rate of a vocab
    trained on a prefix will understate production OOV).

    Types are word BIGRAMS (lower, split on ``[^a-z0-9]+``, drop
    empties — the engine-portable tokenizer used fleet-wide): the
    synthetic corpus has a closed ~31-word unigram vocab that
    saturates in decile 1, while its ~900-bigram vocabulary keeps
    admitting new types through decile 10, so the curve is a real
    exactness check, not a constant. Docs rank by ``doc_id`` (unique
    ⇒ cross-engine-stable order); decile = ``(rank−1)·B div n + 1``.

    Scale shape: ONE text scan → bigram explode (term-level output,
    unavoidable) → the only corpus-keyed exchange is the
    ``groupBy(bucket, gram)`` count rollup (map-side combined,
    ≤ |vocab|·n_buckets rows out, CHECKPOINTED — first-occurrence
    mins and occurrence sums both read it, so the explode runs once,
    not per consumer). Cumulative sums run on the ≤``n_buckets``-row grid
    (single-task Window over an aggregate — plan-audit bounded).
    Docs rank with ``ranked_by_range`` (range shuffle + per-partition
    offsets), because a global ``Window`` over the bare corpus scan
    would sort every document in one task.

    Output: (bucket, n_docs, new_types, cum_types, bucket_grams,
    cum_grams, type_token_ratio) — counts BIGINT exact, ttr one IEEE
    division of exact integers, round 6, NULL for a gram-free prefix.
    """
    if n_buckets < 1:
        raise ValueError(
            f"vocab_growth: n_buckets must be >= 1, got {n_buckets}"
        )
    base = documents.select("doc_id", "text")
    ranked = ranked_by_range(base, [], ["doc_id"], rank_col="_r", n_col="_n")
    bucketed = ranked.select(
        F.expr(
            f"CAST((CAST(_r AS BIGINT) - 1) * {n_buckets} "
            f"DIV _n + 1 AS INT)"
        ).alias("bucket"),
        "text",
    )
    # bigrams via the zip_with-outside-lambda discipline
    # (ngram_diversity above): every reference to the filtered token
    # array sits OUTSIDE the lambdas so codegen subexpression
    # elimination evaluates the split+filter once per row
    toks = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
    out_len = f"(size({toks}) - 1)"
    grams_expr = (
        f"CASE WHEN size({toks}) >= 2 THEN "
        f"zip_with(slice({toks}, 1, {out_len}), "
        f"slice({toks}, 2, {out_len}), "
        f"(x, y) -> concat(x, ' ', y)) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    grams = bucketed.select(
        "bucket", F.explode(F.expr(grams_expr)).alias("gram")
    )
    # ONE corpus-keyed exchange serves both rollups: the (bucket,
    # gram) count table is ≤|vocab|·n_buckets rows (bounded), so it
    # checkpoints cheaply and new-type mins + occurrence sums both
    # read it — without this the explode re-runs per consumer
    per_bucket_gram = (
        grams.groupBy("bucket", "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    firsts = per_bucket_gram.groupBy("gram").agg(
        F.min("bucket").alias("bucket")
    )
    newt = firsts.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("new_types")
    )
    occ = per_bucket_gram.groupBy("bucket").agg(
        F.sum("_c").cast("long").alias("bucket_grams")
    )
    docs = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    grid = (
        docs.join(newt, "bucket", "left")
        .join(occ, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            F.coalesce("new_types", F.lit(0))
            .cast("long")
            .alias("new_types"),
            F.coalesce("bucket_grams", F.lit(0))
            .cast("long")
            .alias("bucket_grams"),
        )
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return grid.select(
        "bucket",
        "n_docs",
        "new_types",
        F.sum("new_types").over(w_cum).cast("long").alias("cum_types"),
        "bucket_grams",
        F.sum("bucket_grams").over(w_cum).cast("long").alias("cum_grams"),
    ).select(
        "bucket",
        "n_docs",
        "new_types",
        "cum_types",
        "bucket_grams",
        "cum_grams",
        F.when(
            F.col("cum_grams") > 0,
            F.round(
                F.col("cum_types").cast("double")
                / F.col("cum_grams").cast("double"),
                6,
            ),
        ).alias("type_token_ratio"),
    )


#: Symmetric co-occurrence context width (token-distance 1..window).
PMI_WINDOW = 2
#: Pair-count floor — below it PMI estimates are noise (Church-Hanks'
#: own caveat) and the output table would be vocabulary².
PMI_MIN_COUNT = 5


def pmi_cooccurrence(
    documents: DataFrame,
    window: int = PMI_WINDOW,
    min_count: int = PMI_MIN_COUNT,
) -> DataFrame:
    """Pointwise mutual information over sliding-window co-occurrence
    (Church & Hanks 1990) — the association statistic word2vec/GloVe
    factorize (SGNS ≈ shifted-PMI matrix, Levy & Goldberg 2014): for
    unordered token pairs within ``window`` positions, ``PMI =
    ln(p(a,b) / (p(a)·p(b)))`` with ``p(a,b) = c_ab/P``, ``p(a) =
    c_a/N``. The embedding-pipeline preprocessing report: which
    collocations the corpus would push into nearby vectors.

    Tokenizer is the LM family's (``normalize_text`` + space split —
    `unigram_logprob`'s contract); pairs canonicalize as (min, max)
    under binary string order, both engines' default collation. The
    PMI expression is the identical literal both engines —
    ``ln(((c_ab·N)·N) / ((P·c_a)·c_b))`` over DOUBLE-cast exact
    integers (products stay inside float64's exact-integer range far
    past this workload; mul/div are IEEE-exact-rounded, and ``ln`` +
    round 4 is `bigram_logprob`'s proven parity pattern).

    Scale shape: pair arrays build NARROW per-document (one zip_with
    slice leg per offset d = 1..window, the `ngram_diversity`
    outside-the-lambda CSE discipline — no positional self-join, no
    band join) and explode once; two map-side-combined counts (pair,
    unigram), each CHECKPOINTED because each feeds 2+ consumers
    (totals + scoring joins — without it the corpus re-explodes per
    consumer: 5 text scans instead of 2, measured in `.explain`); the
    two totals are 1-row aggregates broadcast-crossed (the fleet's
    bounded-crossJoin idiom); scoring joins the ≤|vocab²| gated pair
    table to the ≤|vocab| unigram table twice.

    Output: (w_a, w_b, pair_count, count_a, count_b, pmi round-4),
    gated ``pair_count ≥ min_count``.
    """
    if window < 1:
        raise ValueError(f"pmi: window must be >= 1, got {window}")
    if min_count < 1:
        # min_count=0 disables the very gate that keeps the output
        # from going vocabulary² (the constant's documented purpose)
        raise ValueError(
            f"pmi: min_count must be >= 1, got {min_count}"
        )
    ws = "split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')"

    def leg(d: int) -> str:
        out_len = f"(size({ws}) - {d})"
        return (
            f"CASE WHEN size({ws}) >= {d + 1} THEN "
            f"zip_with(slice({ws}, 1, {out_len}), "
            f"slice({ws}, {1 + d}, {out_len}), "
            f"(x, y) -> CASE WHEN x <= y THEN concat(x, ' ', y) "
            f"ELSE concat(y, ' ', x) END) "
            f"ELSE CAST(array() AS array<string>) END"
        )

    pair_arr = "concat(" + ", ".join(
        leg(d) for d in range(1, window + 1)
    ) + ")"
    base = documents.select("text")
    pairs = base.select(F.explode(F.expr(pair_arr)).alias("pair"))
    # each rollup feeds TWO+ consumers (totals + scoring joins) —
    # checkpoint so the corpus is exploded once per rollup, not once
    # per consumer (5 text scans → 2; the materialized state is
    # vocabulary-sized, the fk_integrity_report trade)
    pair_counts = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
        .localCheckpoint(eager=False)
    )
    unigrams = (
        base.select(F.explode(F.expr(ws)).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    n_tok = unigrams.agg(
        F.sum("cnt").cast("double").alias("_n_tok")
    )
    n_pair = pair_counts.agg(
        F.sum("pair_count").cast("double").alias("_n_pair")
    )
    gated = pair_counts.filter(F.col("pair_count") >= min_count).select(
        F.split(F.col("pair"), " ")[0].alias("w_a"),
        F.split(F.col("pair"), " ")[1].alias("w_b"),
        "pair_count",
    )
    scored = (
        gated.join(
            unigrams.select(
                F.col("tok").alias("w_a"), F.col("cnt").alias("count_a")
            ),
            "w_a",
        )
        .join(
            unigrams.select(
                F.col("tok").alias("w_b"), F.col("cnt").alias("count_b")
            ),
            "w_b",
        )
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pair))
    )
    return scored.select(
        "w_a",
        "w_b",
        "pair_count",
        "count_a",
        "count_b",
        F.round(
            F.expr(
                "ln(((CAST(pair_count AS DOUBLE) * _n_tok) * _n_tok) "
                "/ ((_n_pair * CAST(count_a AS DOUBLE)) "
                "* CAST(count_b AS DOUBLE)))"
            ),
            4,
        ).alias("pmi"),
    )


def char_entropy(documents: DataFrame) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the
    quality gate that catches what length/stopword ratios can't:
    repeated-character junk and template spam score LOW (one symbol
    dominates), while base64/binary-in-text blobs score HIGH (flat
    distribution near ln|charset|); both tails get routed out before
    the token gates. The per-doc companion to `char_class_profile`'s
    per-source class fractions.

    Engine parity: the char histogram is exact integers (chars via
    ``regexp_extract_all(text, '(?s).')`` — identical in Java regex
    and RE2); the entropy evaluates in the rearranged form
    ``ln(n) − (Σ c·ln c)/n`` with ``n = Σ c`` taken FROM the
    histogram itself — algebraically identical to ``−Σ (c/n)ln(c/n)``
    but needing no separate length column, so the whole op is ONE
    text scan with no join (a review finding: the original length
    projection re-read the full text column and hash-joined it back,
    doubling text I/O against its own docstring claim). Each
    ``c·ln c`` term is the identical DOUBLE literal of exact
    operands; the per-doc sums run over charset-BOUNDED groups
    (≤ ~100 terms — `bigram_logprob`'s float-reduce precedent,
    round 4).

    Scale shape: one text scan → char explode → ONE map-side-combined
    (doc, char) count (the only corpus-keyed exchange, ≤ charset rows
    per doc out) → per-doc reduce. Docs with no characters are
    omitted (the empty-histogram contract, as the LM ops).

    Output: (doc_id, n_chars, entropy round-4).
    """
    h = (
        documents.select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(text, '(?s).', 0)")
            ).alias("ch"),
        )
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        h.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_chars"),
            F.sum(
                F.expr(
                    "CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))"
                )
            ).alias("_clnc"),
        )
        .select(
            "doc_id",
            "n_chars",
            F.round(
                F.expr(
                    "ln(CAST(n_chars AS DOUBLE))"
                    " - _clnc / CAST(n_chars AS DOUBLE)"
                ),
                4,
            ).alias("entropy"),
        )
    )


def zipf_fit(documents: DataFrame) -> DataFrame:
    """Zipf rank-frequency fit — the corpus-health statistic read next
    to `vocab_growth`'s Heaps curve (Zipf 1949; natural text follows
    ``freq ∝ rank^{-s}`` with s ≈ 1, so a fitted slope far from −1
    flags boilerplate floods, template spam, or truncated
    vocabularies before they poison a tokenizer or mixture design):
    OLS of ``ln(freq)`` on ``ln(rank)`` over the full type-frequency
    table, plus the fit's r² so a non-power-law corpus is visible, not
    just mis-sloped.

    Types are word BIGRAMS (the fleet tokenizer: lower, split
    ``[^a-z0-9]+``, drop empties) — the synthetic corpus's closed
    ~31-word unigram vocabulary is a degenerate 31-point fit, while
    its ~900-bigram vocabulary exercises a real curve. Ranks order by
    (freq DESC, gram ASC) — the unique-total-order tiebreak
    discipline.

    Exactness discipline: the OLS moments are sums of PER-TERM
    QUANTIZED decimals — each ``ln`` double rounds to 9 dp and casts
    to DECIMAL(12,9) BEFORE summing, so every moment is an exact,
    order-independent decimal both engines (the whole-sum
    double-drift class that would otherwise bite a vocabulary-sized
    float sum); products are taken per term at DECIMAL(25,18) (inside
    38 — the `prefix_sum_by_range` overflow discipline), and the
    final slope/intercept/r² are a handful of double ops on the exact
    moments — identical literals both engines, round 6.

    Scale shape: ONE text scan → bigram explode → map-side-combined
    gram counts; the rank is the only total order, taken with
    ``ranked_by_range`` on (−freq, gram) because a global ``Window``
    would sort the whole vocabulary in one task; the moments are ONE
    map-side-combined global aggregate; output is one row. No joins,
    no corpus-sized window.

    Output: (n_types, n_tokens, slope, intercept, r2) — counts
    BIGINT; slope/intercept/r2 DOUBLE round 6, NULL when the fit is
    degenerate (fewer than 2 types / zero x-variance).
    """
    toks = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
    out_len = f"(size({toks}) - 1)"
    grams_expr = (
        f"CASE WHEN size({toks}) >= 2 THEN "
        f"zip_with(slice({toks}, 1, {out_len}), "
        f"slice({toks}, 2, {out_len}), (a, b) -> concat(a, ' ', b)) "
        f"ELSE array() END"
    )
    freq = (
        documents.select(
            F.explode(F.expr(grams_expr)).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    ranked = ranked_by_range(
        freq.withColumn("_negc", -F.col("cnt")),
        [],
        ["_negc", "gram"],
        rank_col="_rk",
    )
    # per-term quantized decimal moments (see docstring)
    q = "CAST(round(ln(CAST({v} AS DOUBLE)), 9) AS DECIMAL(12,9))"
    x, y = q.format(v="_rk"), q.format(v="cnt")
    moments = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(F.expr(x)).alias("_sx"),
        F.sum(F.expr(y)).alias("_sy"),
        F.sum(F.expr(f"{x} * {y}")).alias("_sxy"),
        F.sum(F.expr(f"{x} * {x}")).alias("_sxx"),
        F.sum(F.expr(f"{y} * {y}")).alias("_syy"),
    )
    d = "CAST({c} AS DOUBLE)"
    n, sx, sy = (d.format(c=c) for c in ("n_types", "_sx", "_sy"))
    sxy, sxx, syy = (d.format(c=c) for c in ("_sxy", "_sxx", "_syy"))
    den_x = f"({n} * {sxx} - {sx} * {sx})"
    den_y = f"({n} * {syy} - {sy} * {sy})"
    cov = f"({n} * {sxy} - {sx} * {sy})"
    return moments.select(
        "n_types",
        "n_tokens",
        F.round(
            F.expr(
                f"CASE WHEN {den_x} > 0 THEN {cov} / {den_x} END"
            ),
            6,
        ).alias("slope"),
        F.round(
            F.expr(
                f"CASE WHEN {den_x} > 0 THEN "
                f"({sy} - ({cov} / {den_x}) * {sx}) / {n} END"
            ),
            6,
        ).alias("intercept"),
        F.round(
            F.expr(
                f"CASE WHEN {den_x} > 0 AND {den_y} > 0 THEN "
                f"({cov} * {cov}) / ({den_x} * {den_y}) END"
            ),
            6,
        ).alias("r2"),
    )
