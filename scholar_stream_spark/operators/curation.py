"""Composed corpus curation — the end-to-end training-data filter
chain as ONE operator (SURVEY §2.8 pipeline surface).

What a pretraining data pipeline actually runs before tokenization:

    quality filter → language filter → exact dedup → split selection

Composition strategy matters more than the individual filters at
100 TB: every per-document signal (quality score, language, content
fingerprint, split bucket) is derivable in the row, so the whole
chain needs zero joins — the only shuffle is the exact-dedup ranking
window on the content fingerprint (a global property, unavoidable,
keyed on the fingerprint and AQE-splittable).

Two signal engines, same output bit-for-bit (pinned by tests AND by
the shared DuckDB oracle):

- ``engine="kernel"`` (default): ONE Arrow ``mapInPandas`` pass
  computes every signal per batch. The expression formulation pays
  interpreted array-``filter`` lambdas per language plus Catalyst's
  filter-pushdown duplicating the signal expressions into the
  predicate — measured ~3× slower end-to-end. One python pass per
  row, tokenize once, all signals out; embarrassingly parallel at any
  scale.
- ``engine="expr"``: pure Column expressions shared with the
  standalone operators (``textops.quality_parts``,
  ``textops.pred_lang_from_hits``, ``text.normalize_text``,
  ``sampling.split_bucket``) — the reference formulation the kernel
  is checked against.

Kernel parity notes (the subtle bits): Spark ``round()`` is
BigDecimal ROUND_HALF_UP on the exact binary double — replicated with
``decimal.Decimal(float).quantize(ROUND_HALF_UP)``, never python's
half-even ``round()``; Java regex ``\\s`` is ASCII-only — replicated
as an explicit ASCII class, never python's unicode-aware ``\\s``;
``trim`` strips ASCII spaces only.
"""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scholar_stream_spark.functions.text import normalize_text
from scholar_stream_spark.operators.sampling import (
    MIXTURE_WEIGHTS,
    SPLIT_BOUNDS,
    split_bucket,
)
from scholar_stream_spark.operators.textops import (
    LANG_MARKERS,
    LANG_ORDER,
    STOPWORDS,
    lang_hit_cols,
    pred_lang_from_hits,
    quality_parts,
)
from scholar_stream_spark.plans.partitioning import scale_out

#: Curation defaults (shared with the DuckDB oracle text).
CURATE_MIN_QUALITY = 0.5
CURATE_LANGS = ("en",)
CURATE_SPLITS = ("train",)

#: Mixture weights for the composed pretraining pipeline (shared with the
#: DuckDB oracle so the two sides pin the SAME key-set). The pipeline
#: stratifies on the ground-truth ``lang`` TAG (see
#: ``pretraining_pipeline``), so every corpus lang — including ``zh``,
#: which the en/de/fr/es marker lang-ID can never *predict* — is a
#: bindable stratum here.
PIPELINE_WEIGHTS: dict[str, float] = dict(MIXTURE_WEIGHTS)

#: Java-regex ``\s`` is ASCII-only; python's is unicode-aware. Match Java.
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_Q4 = Decimal("0.0001")


def _round4_half_up(x: float) -> float:
    """Spark's ``round(x, 4)``: HALF_UP over ``BigDecimal.valueOf``,
    which parses the SHORTEST round-trip decimal string of the double
    (Double.toString), not its exact binary expansion — a score of
    exactly-printed 0.91875 rounds UP even though the underlying
    double is 0.91874999…96. Python's ``repr`` is the same
    shortest-round-trip algorithm, so ``Decimal(repr(x))`` matches;
    ``Decimal(x)`` (exact binary) does not."""
    return float(Decimal(repr(x)).quantize(_Q4, rounding=ROUND_HALF_UP))


def _signal_kernel(batches):
    """Per-batch signal computation — exact python replica of the
    expression formulation (see module docstring for the parity
    traps)."""
    import pandas as pd  # noqa: PLC0415

    for pdf in batches:
        n_toks, scores, langs, fps, splits = [], [], [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            bucket = (
                int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16)
                % 100
            )
            split = None
            for name, lo, hi in SPLIT_BOUNDS:
                if lo <= bucket < hi:
                    split = name
                    break
            if text is None:
                # expr-engine parity for NULL text (never a crash): NULL
                # length/score/fingerprint, 'und' language (the CASE's
                # otherwise-branch), split still derived from doc_id.
                # The quality filter drops the row either way.
                n_toks.append(None)
                scores.append(None)
                langs.append("und")
                fps.append(None)
                splits.append(split)
                continue
            nospace = text.replace(" ", "")
            nt = len(text) - len(nospace) + 1
            toks = _ASCII_WS.split(text.strip(" "))
            if nt < 5:
                score = 0.0
            else:
                mean_len = len(nospace) / nt
                sr = sum(1 for t in toks if t in STOPWORDS) / nt
                score = 1.0 - abs(mean_len - 4.0) / 10.0 - sr * 0.5
            hits = {
                lang: sum(1 for t in toks if t in LANG_MARKERS[lang])
                for lang in LANG_ORDER
            }
            lang = "und"
            for cand in LANG_ORDER:  # priority argmax, earliest wins ties
                if hits[cand] > 0 and all(
                    hits[cand] >= hits[o] for o in LANG_ORDER
                ):
                    lang = cand
                    break
            norm = _ASCII_WS.sub(" ", text.lower()).strip(" ")
            n_toks.append(nt)
            scores.append(_round4_half_up(score))
            langs.append(lang)
            fps.append(hashlib.md5(norm.encode()).hexdigest())
            splits.append(split)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_doc_tokens": n_toks,
                "quality_score": scores,
                "pred_lang": langs,
                "fingerprint": fps,
                "split": splits,
            }
        )


_SIGNAL_SCHEMA = (
    "doc_id long, n_doc_tokens long, quality_score double, "
    "pred_lang string, fingerprint string, split string"
)


def _signals_expr(
    documents: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Expression-engine signal projection (the kernel's reference).

    ``carry`` projects extra passthrough columns (e.g. ``source`` for
    the funnel report) without widening the default schema consumers
    depend on.
    """
    nt, _, _, score = quality_parts(F.col("text"))
    bucket = split_bucket("CAST(doc_id AS STRING)")
    split = None
    for name, lo, hi in SPLIT_BOUNDS:
        cond = (bucket >= lo) & (bucket < hi)
        split = (
            F.when(cond, F.lit(name))
            if split is None
            else split.when(cond, F.lit(name))
        )
    hits = lang_hit_cols(F.col("text"))
    staged = scale_out(documents).select(
        "doc_id",
        *carry,
        nt.alias("n_doc_tokens"),
        F.round(score, 4).alias("quality_score"),
        *[hits[lang].alias(f"_h_{lang}") for lang in LANG_ORDER],
        F.md5(normalize_text(F.col("text"))).alias("fingerprint"),
        split.alias("split"),
    )
    return staged.select(
        "doc_id",
        *carry,
        "n_doc_tokens",
        "quality_score",
        pred_lang_from_hits(
            {lang: F.col(f"_h_{lang}") for lang in LANG_ORDER}
        ).alias("pred_lang"),
        "fingerprint",
        "split",
    )


def curate_corpus(
    documents: DataFrame,
    min_quality: float = CURATE_MIN_QUALITY,
    langs: tuple[str, ...] = CURATE_LANGS,
    splits: tuple[str, ...] = CURATE_SPLITS,
    engine: str = "kernel",
) -> DataFrame:
    """Quality+language filter → exact dedup → split selection.

    Dedup keeps the LOWEST doc_id among quality/lang-passing documents
    sharing a normalized-content fingerprint (deterministic survivor —
    never ``dropDuplicates``). Split filtering happens after dedup so
    the survivor choice is split-independent (the same doc survives
    whether you materialize train or val).

    Output: (doc_id, n_doc_tokens, quality_score, pred_lang, split).
    """
    if engine == "kernel":
        scored = scale_out(documents).select("doc_id", "text").mapInPandas(
            _signal_kernel, _SIGNAL_SCHEMA
        )
    elif engine == "expr":
        scored = _signals_expr(documents)
    else:
        raise ValueError(f"unknown engine: {engine!r}")
    passed = scored.filter(
        (F.col("quality_score") >= min_quality)
        & F.col("pred_lang").isin(*langs)
    )
    w = Window.partitionBy("fingerprint").orderBy(F.asc("doc_id"))
    deduped = (
        passed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return deduped.filter(F.col("split").isin(*splits)).select(
        "doc_id", "n_doc_tokens", "quality_score", "pred_lang", "split"
    )


def curation_funnel(
    documents: DataFrame,
    min_quality: float = CURATE_MIN_QUALITY,
    langs: tuple[str, ...] = CURATE_LANGS,
    splits: tuple[str, ...] = CURATE_SPLITS,
) -> DataFrame:
    """Per-source curation funnel: how many documents each source
    delivers INTO each gate of the ``curate_corpus`` pipeline — total →
    quality pass → +language pass → +exact-dedup survivor → +split —
    the observability report a pipeline owner reads before touching
    mixture weights (a source losing 90% at the quality gate is a
    crawler problem, not a sampling problem; counts here are the SAME
    gates ``curate_corpus`` applies, not a parallel reimplementation).

    Scale shape: ONE signal projection (shared ``_signals_expr``, the
    oracle-checkable expression engine) with ``source`` carried
    through; the dedup-survivor flag folds into the SAME pass via
    ``min(case when passer then doc_id) over (partition by
    fingerprint)`` — no filtered sub-pipeline, no second scan, one
    fingerprint exchange; the rollup is a map-side-combined
    ≤|sources|-row integer aggregate. Every output is an exact count.

    Output: (source, n_total, n_quality, n_lang, n_unique, n_final),
    source asc.
    """
    sig = _signals_expr(documents, carry=("source",))
    pass_q = F.col("quality_score") >= min_quality
    pass_l = pass_q & F.col("pred_lang").isin(*langs)
    w = Window.partitionBy("fingerprint")
    flags = sig.select(
        "source",
        "split",
        pass_q.alias("_pq"),
        pass_l.alias("_pl"),
        (
            pass_l
            & (
                F.col("doc_id")
                == F.min(F.when(pass_l, F.col("doc_id"))).over(w)
            )
        ).alias("_sv"),
    )

    def _n(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            _n(F.col("_pq"), "n_quality"),
            _n(F.col("_pl"), "n_lang"),
            _n(F.col("_sv"), "n_unique"),
            _n(
                F.col("_sv") & F.col("split").isin(*splits),
                "n_final",
            ),
        )
        .orderBy("source")
    )


def pretraining_pipeline(
    documents: DataFrame, weights=None, curate_langs=None
) -> DataFrame:
    """The whole pretraining data layout as ONE composed plan:
    curate (quality -> predicted-lang -> exact dedup -> train split)
    -> decontaminate (drop train docs sharing shingles with the test
    split) -> mixture-sample to target language shares.

    Each stage is the standalone oracle-checked operator; composing
    them stays a single Catalyst plan with no materialization between
    stages. Two composition decisions matter:

    - curate's predicted-lang filter is widened to every lang the
      marker lang-ID can emit (its standalone default keeps English
      only, which would collapse the mixture stage to one stratum —
      a vacuous no-op rebalance);
    - the mixture stratifies on the ground-truth ``lang`` TAG, not
      ``pred_lang`` — data mixing targets the corpus's source/domain
      metadata (how production mixers weight), while pred_lang is a
      quality signal. Attaching the tag is one doc_id equi-join
      against the documents scan (both sides co-partition on doc_id;
      the only stage-boundary shuffle the composition adds).

    The decontamination flag set is contaminated-docs-sized (small),
    so removal is a broadcast anti-join; token counts come from the
    curate stage (``mixture_select``), not re-derived from text.

    Output: (doc_id, stratum, n_tokens) — the docs to pack/ship.
    """
    from scholar_stream_spark.operators.dedup import decontaminate
    from scholar_stream_spark.operators.sampling import (
        mixture_select,
        sample_bucket,
    )
    from scholar_stream_spark.operators.textops import LANG_ORDER

    if weights is None:
        weights = PIPELINE_WEIGHTS
    if curate_langs is None:
        curate_langs = LANG_ORDER
    curated = curate_corpus(documents, langs=tuple(curate_langs))
    flagged = decontaminate(documents).select("doc_id")
    clean = curated.join(F.broadcast(flagged), "doc_id", "left_anti")
    base = (
        clean.select("doc_id", "n_doc_tokens")
        .join(
            documents.select("doc_id", F.col("lang").alias("stratum")),
            "doc_id",
        )
        .select(
            "doc_id",
            "stratum",
            F.col("n_doc_tokens").alias("n_tokens"),
            sample_bucket("doc_id").alias("bucket"),
        )
        # pinned: mixture_select reads base twice (per-stratum totals +
        # the threshold join) and each read would otherwise re-run the
        # ENTIRE curate + decontaminate composition (r17 opt)
        .localCheckpoint(eager=False)
    )
    return mixture_select(base, weights)


#: Quality-calibration decile count (d/10 quantiles, d = 1..10; d=10 is
#: the per-source max).
QUALITY_N_DECILES = 10


def quality_deciles(documents: DataFrame) -> DataFrame:
    """Per-source quality-score deciles — the calibration table that
    shows whether a single global quality threshold transfers across
    sources (it usually doesn't: the same cut that keeps 90% of one
    source can keep 40% of another; mixture designers read this table
    before setting ``curate_corpus``'s ``min_quality`` or switching to
    per-source cuts).

    Quantile definition is RANK-BASED and exact (value at row
    ``ceil(d·n/10)`` of the (score, doc_id)-ordered source), computed
    with integer arithmetic ``(d·n + 9) div 10`` — no interpolation,
    so both engines pick the SAME document's score and the oracle is
    bit-exact (percentile interpolation semantics differ per engine;
    rank selection doesn't).

    Scale shape: one signal scan projected to (source, score, doc_id),
    one sort exchange keyed by source (the quantile order — skew-free
    here, sources are near-uniform), target ranks derived from the
    ≤|sources| count table exploded ×10 and broadcast back into a
    rank-equality join — the corpus is scanned once and shuffled once.
    The per-source window is the one ranking form: the same ranks via
    ``relational.ranked_by_range`` were 1.6× slower at sf0.1 (1.10 vs
    1.77 s, ``BENCH_r18_baseline_local.json``).

    Output: (source, decile 1..10, score), source asc, decile asc.
    """
    _, _, _, score = quality_parts(F.col("text"))
    base = scale_out(documents).select(
        "source",
        F.col("doc_id"),
        F.round(score, 4).alias("score"),
    )
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    ranked = base.select(
        "source", "score", F.row_number().over(w).alias("rn")
    )
    targets = (
        base.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(1, {QUALITY_N_DECILES}), "
                    f"d -> struct(d AS decile, "
                    f"(d * n + {QUALITY_N_DECILES - 1}) "
                    f"DIV {QUALITY_N_DECILES} AS rn))"
                )
            ).alias("t"),
        )
        .select("source", F.col("t.decile").alias("decile"), "t.rn")
    )
    return (
        ranked.join(
            F.broadcast(targets), ["source", "rn"]
        )
        .select("source", F.col("decile").cast("int").alias("decile"), "score")
        .orderBy("source", "decile")
    )


#: Ordered mojibake repair rules — the "Ã©-class": UTF-8 byte pairs/
#: triples mis-decoded as cp1252/Latin-1 somewhere upstream (the
#: Dolma/CCNet `fix_encoding` step between raw text and every
#: downstream gate). Each entry is (rule, bad, good); the chain
#: applies IN ORDER. Safety properties of this table, maintained on
#: edit: no rule's `bad` is a prefix of another's (the â€- and
#: Ã-families all differ in the final character), and no rule's
#: `good` output contains any rule's `bad` (repair cannot cascade).
#: Deliberately absent: sequences whose cp1252 round-trip lands on
#: undefined/control bytes (the ” U+201D class via 0x9D) or invisible
#: characters (í via 0xAD soft hyphen) — repairing those needs byte-
#: level re-decoding, not string replace, and a wrong match would
#: corrupt clean text silently.
MOJIBAKE_RULES = (
    ("right_single_quote", "â€™", "’"),  # â€™ → '
    ("left_double_quote", "â€œ", "“"),   # â€œ → "
    ("en_dash", "â€“", "–"),             # â€“ → –
    ("em_dash", "â€”", "—"),             # â€” → —
    ("ellipsis", "â€¦", "…"),            # â€¦ → …
    ("e_acute", "Ã©", "é"),                   # Ã© → é
    ("e_grave", "Ã¨", "è"),                   # Ã¨ → è
    ("a_acute", "Ã¡", "á"),                   # Ã¡ → á
    ("o_acute", "Ã³", "ó"),                   # Ã³ → ó
    ("u_acute", "Ãº", "ú"),                   # Ãº → ú
    ("n_tilde", "Ã±", "ñ"),                   # Ã± → ñ
    ("c_cedilla", "Ã§", "ç"),                 # Ã§ → ç
    ("a_umlaut", "Ã¤", "ä"),                  # Ã¤ → ä
    ("o_umlaut", "Ã¶", "ö"),                  # Ã¶ → ö
    ("u_umlaut", "Ã¼", "ü"),                  # Ã¼ → ü
    ("guillemet_left", "Â«", "«"),            # Â« → «
    ("guillemet_right", "Â»", "»"),           # Â» → »
)


def fixed_text_expr(col):
    """The repair chain as ONE Column expression (narrow codegen
    projection — no shuffle, no Python): `replace` applied per rule in
    table order. Shared by `fix_encoding` and the report's
    after-repair recount, and mirrored literally by the oracle SQL
    (`_fixed_sql` in the entry module) — one rule table, both
    engines."""
    out = col
    for _, bad, good in MOJIBAKE_RULES:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def fix_encoding(
    documents: DataFrame, text_col: str = "text", nfc: bool = False
) -> DataFrame:
    """Unicode/mojibake normalization gate — the curation chain's
    encoding-repair step (run BEFORE fingerprints, quality signals, or
    language ID: a mojibake'd `Ã©` breaks all three). Two stages:

    1. **Mojibake repair** (always): the `MOJIBAKE_RULES` chain as a
       narrow whole-stage-codegen projection — zero shuffle, zero
       Python, the curate chain's discipline.
    2. **NFC normalization** (``nfc=True``): canonical composition
       (é as U+00E9, never e + U+0301 — fingerprints and exact dedup
       depend on byte-stable text). Spark has no NFC builtin, so this
       stage is ONE Arrow `mapInPandas` pass over `unicodedata`
       (stated honestly: Arrow-batched kernel, not codegen — the same
       trade every Arrow kernel in this repo makes), schema unchanged,
       still zero shuffle. Skipped by default because most corpora
       are already NFC; the repair stage alone stays pure-JVM.
    """
    out = documents.withColumn(text_col, fixed_text_expr(F.col(text_col)))
    if not nfc:
        return out

    schema = out.schema

    def kernel(batches):
        import unicodedata

        for pdf in batches:
            pdf[text_col] = pdf[text_col].map(
                lambda s: None
                if s is None
                else unicodedata.normalize("NFC", s)
            )
            yield pdf

    return scale_out(out).mapInPandas(kernel, schema)


def fix_encoding_report(documents: DataFrame) -> DataFrame:
    """Per-rule mojibake audit over a deterministically corrupted copy
    of the corpus — the oracle-checkable demonstration that the repair
    chain finds and removes every planted sequence. The sf corpora are
    clean ASCII, so the entry INJECTS mojibake in-query (both engines
    run the identical injection SQL: doc `i` gets rule `i mod R`'s bad
    sequence appended twice), then reports, per rule: total
    occurrences before repair, documents containing the sequence, and
    occurrences AFTER the `fixed_text_expr` chain (all-zero — the
    repair proof).

    Counting is exact integer arithmetic both engines share:
    occurrences = (length(t) − length(replace(t, bad, ''))) /
    length(bad) — character-based `length`/`replace` agree between
    Spark and DuckDB, and the division is exact by construction.

    Scale shape: ONE text scan stages `injected` and `fixed` once
    each (two stacked narrow projections — one concat, one 17-replace
    chain per row), evaluates all 3·R counting expressions over the
    staged pair, then ONE map-side-combined global aggregate
    collapses to a 1-row frame, and the per-rule rows explode from a
    literal R-struct array on that single row — no shuffle wider than
    the 1-row exchange, no window. Output: (rule, n_hits, n_docs,
    n_hits_after), table order.
    """
    rules = MOJIBAKE_RULES
    n_rules = len(rules)
    snippets = F.array(
        *[F.lit(f"x{bad}y{bad}") for _, bad, _ in rules]
    )
    injected = F.concat(
        F.col("text"),
        F.lit(" "),
        F.element_at(
            snippets, (F.col("doc_id") % n_rules).cast("int") + 1
        ),
    )

    def occurrences(col, bad):
        return (
            (F.length(col) - F.length(F.replace(col, F.lit(bad))))
            / F.length(F.lit(bad))
        ).cast("long")

    # Stage `injected` then `fixed` ONCE (mirrors the oracle's
    # injected/fixed CTE shape) so each is evaluated one time per row
    # regardless of codegen subexpression elimination — inlining them
    # into every count column would plant ~3·R copies of the concat +
    # 17-replace chain in one projection.
    staged_text = (
        scale_out(documents)
        .select(injected.alias("_inj"))
        .select("_inj", fixed_text_expr(F.col("_inj")).alias("_fix"))
    )
    staged = staged_text.select(
        *[
            occurrences(F.col("_inj"), bad).alias(f"_h_{i}")
            for i, (_, bad, _) in enumerate(rules)
        ],
        *[
            occurrences(F.col("_fix"), bad).alias(f"_a_{i}")
            for i, (_, bad, _) in enumerate(rules)
        ],
    )
    agg = staged.agg(
        *[F.sum(f"_h_{i}").cast("long").alias(f"h_{i}") for i in range(n_rules)],
        *[
            F.sum((F.col(f"_h_{i}") > 0).cast("long")).cast("long").alias(f"d_{i}")
            for i in range(n_rules)
        ],
        *[F.sum(f"_a_{i}").cast("long").alias(f"a_{i}") for i in range(n_rules)],
    )
    per_rule = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        F.lit(i).alias("_ord"),
                        F.col(f"h_{i}").alias("n_hits"),
                        F.col(f"d_{i}").alias("n_docs"),
                        F.col(f"a_{i}").alias("n_hits_after"),
                    )
                    for i, (name, _, _) in enumerate(rules)
                ]
            )
        ).alias("r")
    )
    return (
        per_rule.select(
            "r.rule", "r._ord", "r.n_hits", "r.n_docs", "r.n_hits_after"
        )
        .orderBy("_ord")
        .drop("_ord")
    )
