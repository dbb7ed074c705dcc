"""Corpus-curation operators for large-scale training-data pipelines:
within-document repetition metrics, cross-split contamination checks,
stratified sampling, corpus-level n-gram statistics, and domain mixture
weights.

Not in the reference (whose only text processing is ``"x,y".split(',')``,
big_data_computing_2.py:10-12); these extend the engine's
training-data-pipeline surface beyond dedup (dedup.py) and per-document
text analysis (textstats.py) to the *corpus-level* decisions a data
pipeline makes: what to drop for repetition, what leaked across splits,
how much of each stratum/domain to keep.

Scale notes:
- repetition: one shuffle keyed (doc_id, token) with full map-side
  partial aggregation, then a doc_id-keyed rollup — the token stream
  never concentrates on one key because doc_id is in every grouping key.
- contamination: distinct n-gram hashes per split, then a hash-keyed
  equi-join; only (doc_id, hash) pairs shuffle, never text.
- sampling: pure per-row counter-based decisions (functions/hashing.py)
  or a per-stratum window rank — deterministic, no RNG state.
- top-ngrams: partial-aggregated count per n-gram then
  TakeOrderedAndProject — the classic scalable word-count shape.
- mixture: per-domain aggregate (domains are few) + a single-partition
  window over the tiny aggregate, not over the data.

Every operator is Catalyst-only (no UDFs) with an exact DuckDB-SQL twin
for the correctness oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqlsafe import sql_str

from ..functions.hashing import hash60, hash60_sql, uniform01, uniform01_sql
from ..functions.text import token_count, tokens, word_ngrams

_TOKS_SQL = "list_filter(string_split(text, ' '), t -> t <> '')"


def _ngrams_sql(n: int) -> str:
    """DuckDB list expression for space-joined word n-grams (twin of
    functions.text.word_ngrams — 1-based list indexing, empty when the
    document has fewer than n tokens)."""
    joined = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return (
        f"list_transform(range(1, len(toks) - {n - 2}), i -> {joined})"
    )


# ---------------------------------------------------------------------------
# Within-document repetition (Gopher-style quality signals)
# ---------------------------------------------------------------------------


def repetition_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition signals: DataFrame[doc_id, n_tokens,
    top_token_frac, dup_bigram_frac, dup_trigram_frac].

    - ``top_token_frac``: occurrences of the most frequent token divided
      by total tokens (high → degenerate repetition).
    - ``dup_{bi,tri}gram_frac``: 1 − distinct/total word n-grams.

    The filters a curation pipeline derives from these (e.g. drop when
    dup_bigram_frac > 0.2) follow the repetition-removal heuristics of
    the Gopher/MassiveText data work. Documents with zero tokens are
    omitted (nothing to measure).
    """
    toks = tokens(F.col(text_col))
    bi = word_ngrams(F.col(text_col), 2)
    tri = word_ngrams(F.col(text_col), 3)

    tok_counts = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").cast("int").alias("n_tokens"),
            F.max("count").cast("int").alias("top_tok_cnt"),
        )
    )
    grams = docs.select(
        "doc_id",
        F.size(bi).alias("n_bi"),
        F.size(F.array_distinct(bi)).alias("d_bi"),
        F.size(tri).alias("n_tri"),
        F.size(F.array_distinct(tri)).alias("d_tri"),
    )

    def dup_frac(n: str, d: str) -> F.Column:
        return F.round(
            F.when(
                F.col(n) > 0,
                F.lit(1.0) - F.col(d).cast("double") / F.col(n),
            ).otherwise(F.lit(0.0)),
            6,
        )

    return tok_counts.join(grams, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("top_tok_cnt").cast("double") / F.col("n_tokens"), 6
        ).alias("top_token_frac"),
        dup_frac("n_bi", "d_bi").alias("dup_bigram_frac"),
        dup_frac("n_tri", "d_tri").alias("dup_trigram_frac"),
    )


def repetition_metrics_sql() -> str:
    return f"""
WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
tc AS (
  SELECT doc_id, CAST(SUM(cnt) AS INT) AS n_tokens,
         CAST(MAX(cnt) AS INT) AS top_tok_cnt
  FROM (
    SELECT doc_id, tok, COUNT(*) AS cnt
    FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
),
gr AS (
  SELECT doc_id,
         len(bi) AS n_bi, len(list_distinct(bi)) AS d_bi,
         len(tri) AS n_tri, len(list_distinct(tri)) AS d_tri
  FROM (SELECT doc_id, {_ngrams_sql(2)} AS bi, {_ngrams_sql(3)} AS tri
        FROM base)
)
SELECT tc.doc_id, n_tokens,
       ROUND(CAST(top_tok_cnt AS DOUBLE) / n_tokens, 6) AS top_token_frac,
       ROUND(CASE WHEN n_bi > 0
                  THEN 1.0 - CAST(d_bi AS DOUBLE) / n_bi
                  ELSE 0.0 END, 6) AS dup_bigram_frac,
       ROUND(CASE WHEN n_tri > 0
                  THEN 1.0 - CAST(d_tri AS DOUBLE) / n_tri
                  ELSE 0.0 END, 6) AS dup_trigram_frac
FROM tc JOIN gr ON tc.doc_id = gr.doc_id
"""


# ---------------------------------------------------------------------------
# Cross-split contamination (train/test n-gram overlap)
# ---------------------------------------------------------------------------


def contamination(
    docs: DataFrame,
    n: int = 3,
    holdout_mod: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Held-out-set contamination: for each document in the held-out
    split (``doc_id % holdout_mod == 0``), the fraction of its distinct
    word n-grams that also appear anywhere in the training split.
    DataFrame[doc_id, n_ngrams, n_contaminated, contamination_frac].

    The train-side n-gram set is reduced to distinct 60-bit hashes before
    the join, so the shuffle moves one bigint per distinct n-gram — never
    the text. This is the decontamination check run before any training
    corpus ships (the n-gram-overlap definition used by GPT-3/PaLM-style
    dataset reports). Held-out documents with fewer than ``n`` tokens are
    omitted (no n-grams to leak).
    """
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias(
            "g"
        ),
    ).select("doc_id", hash60(F.col("g")).alias("h"))
    test = grams.where(F.col("doc_id") % holdout_mod == 0)
    train = (
        grams.where(F.col("doc_id") % holdout_mod != 0)
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        test.join(train, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_ngrams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("int")
            .alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_ngrams"),
                6,
            ).alias("contamination_frac"),
        )
    )


def contamination_sql(n: int = 3, holdout_mod: int = 10) -> str:
    from ..functions.hashing import hash60_sql

    return f"""
WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
grams AS (
  SELECT doc_id, {hash60_sql('g')} AS h
  FROM (SELECT doc_id, unnest(list_distinct({_ngrams_sql(n)})) AS g
        FROM base)
),
test AS (SELECT * FROM grams WHERE doc_id % {holdout_mod} = 0),
train AS (SELECT DISTINCT h FROM grams WHERE doc_id % {holdout_mod} <> 0)
SELECT test.doc_id,
       CAST(COUNT(*) AS INT) AS n_ngrams,
       CAST(SUM(CASE WHEN train.h IS NOT NULL THEN 1 ELSE 0 END) AS INT)
         AS n_contaminated,
       ROUND(CAST(SUM(CASE WHEN train.h IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS contamination_frac
FROM test LEFT JOIN train ON test.h = train.h
GROUP BY test.doc_id
"""


# ---------------------------------------------------------------------------
# Stratified / balanced sampling
# ---------------------------------------------------------------------------


def stratified_sample_report(
    docs: DataFrame, strata_col: str = "lang", fraction: float = 0.25
) -> DataFrame:
    """Deterministic rate-based stratified sampling report:
    DataFrame[stratum, n_total, n_kept]. A row is kept when its
    counter-based uniform draw (keyed on doc_id — functions/hashing.py)
    falls below ``fraction``; per-row, stateless, reproducible."""
    u = uniform01(F.concat(F.lit("ss:"), F.col("doc_id").cast("string")))
    return (
        docs.select(F.col(strata_col).alias("stratum"), u.alias("u"))
        .groupBy("stratum")
        .agg(
            F.count("*").cast("int").alias("n_total"),
            F.sum((F.col("u") < F.lit(fraction)).cast("int"))
            .cast("int")
            .alias("n_kept"),
        )
    )


def stratified_sample_report_sql(
    strata_col: str = "lang", fraction: float = 0.25
) -> str:
    u = uniform01_sql("concat('ss:', CAST(doc_id AS VARCHAR))")
    return f"""
SELECT {strata_col} AS stratum,
       CAST(COUNT(*) AS INT) AS n_total,
       CAST(SUM(CASE WHEN {u} < {fraction!r} THEN 1 ELSE 0 END) AS INT)
         AS n_kept
FROM documents GROUP BY {strata_col}
"""


def balanced_sample(
    docs: DataFrame, strata_col: str = "lang", cap: int = 50
) -> DataFrame:
    """Deterministic balanced sample: at most ``cap`` documents per
    stratum, chosen by rank over a counter-based hash (a reproducible
    'random' order). DataFrame[doc_id, stratum].

    The shuffle is keyed by stratum; with few large strata the window
    rank concentrates — at 100 TB prefer rate-based sampling
    (:func:`stratified_sample_report`) or pre-aggregate per-partition
    top-``cap`` (the rank only needs the best ``cap`` rows of each
    partition, which AQE's skew handling and the window's rank-limit
    pushdown — ``WindowGroupLimit`` in Spark 3.5+ — already exploit).
    """
    key = hash60(F.concat(F.lit("bs:"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", F.col(strata_col).alias("stratum"), key.alias("_k"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("stratum").orderBy(
                    F.col("_k").asc(), F.col("doc_id")
                )
            ),
        )
        .where(F.col("rn") <= cap)
        .select("doc_id", "stratum")
    )


def balanced_sample_sql(strata_col: str = "lang", cap: int = 50) -> str:
    from ..functions.hashing import hash60_sql

    key = hash60_sql("concat('bs:', CAST(doc_id AS VARCHAR))")
    return f"""
SELECT doc_id, stratum FROM (
  SELECT doc_id, {strata_col} AS stratum,
         ROW_NUMBER() OVER (PARTITION BY {strata_col}
                            ORDER BY {key} ASC, doc_id) AS rn
  FROM documents
) WHERE rn <= {cap}
"""


# ---------------------------------------------------------------------------
# Corpus-level n-gram statistics
# ---------------------------------------------------------------------------


def top_ngrams(
    docs: DataFrame, n: int = 2, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide top-k word n-grams: DataFrame[ngram, cnt], ordered by
    count descending with the n-gram string as a deterministic
    tie-break. Partial aggregation (map-side combine) then
    TakeOrderedAndProject — only k rows ever reach the driver."""
    return (
        docs.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("ngram")
        )
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(k)
    )


def top_ngrams_sql(n: int = 2, k: int = 20) -> str:
    return f"""
WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT unnest({_ngrams_sql(n)}) AS ngram FROM base)
GROUP BY ngram ORDER BY cnt DESC, ngram ASC LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Domain mixture weights
# ---------------------------------------------------------------------------


def domain_mixture(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-domain (source) corpus statistics and sqrt-scaled sampling
    weights: DataFrame[source, n_docs, n_tokens, weight], where
    weight ∝ sqrt(n_tokens), normalized to sum to 1 — the standard
    temperature-style domain re-weighting (τ = 0.5) used when mixing
    heterogeneous sources into one training corpus.

    sqrt (not pow) so the arithmetic is IEEE-correctly-rounded and
    bit-identical across engines. The window runs over the per-domain
    aggregate (a handful of rows), never over the raw data.
    """
    per = docs.groupBy("source").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum(token_count(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    s = F.sqrt(F.col("n_tokens").cast("double"))
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(s / F.sum(s).over(w), 6).alias("weight"),
    )


def domain_mixture_sql() -> str:
    return f"""
WITH per AS (
  SELECT source, CAST(COUNT(*) AS INT) AS n_docs,
         CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       ROUND(sqrt(CAST(n_tokens AS DOUBLE))
             / SUM(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), 6) AS weight
FROM per
"""


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# Dialect-neutral patterns (no \d, \b, or lookaround): identical
# semantics under Java regex (Spark) and RE2 (DuckDB), which is what
# makes the operator oracle-checkable cross-engine.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PII_PHONE = "[+]?[0-9][0-9()\\- ]{6,}[0-9]"
PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

_PII_ORDER = (
    (PII_EMAIL, "<EMAIL>"),
    (PII_IPV4, "<IP>"),
    (PII_PHONE, "<PHONE>"),
)


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace emails / IPv4s / phone-number runs with typed placeholder
    tags: the input DataFrame with ``text_col`` rewritten. Order
    matters: emails first (their local part can contain digits), then
    IPs (dotted digits would otherwise match the phone run), then
    phones. Pure per-row regexp — embarrassingly parallel, no shuffle.
    """
    out = F.col(text_col)
    for pat, tag in _PII_ORDER:
        out = F.regexp_replace(out, pat, tag)
    return docs.withColumn(text_col, out)


def pii_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII audit: DataFrame[doc_id, n_emails, n_phones,
    n_ips, redacted_fp] where redacted_fp is the 60-bit fingerprint of
    the redacted text (lets a pipeline verify redaction output without
    moving the text)."""
    red = F.col(text_col)
    for pat, tag in _PII_ORDER:
        red = F.regexp_replace(red, pat, tag)
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(PII_EMAIL), 0)
        ).alias("n_emails"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(PII_PHONE), 0)
        ).alias("n_phones"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(PII_IPV4), 0)
        ).alias("n_ips"),
        hash60(red).alias("redacted_fp"),
    )


def pii_report_sql() -> str:
    from ..functions.hashing import hash60_sql

    red = "text"
    for pat, tag in _PII_ORDER:
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    return f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS INT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS INT)
         AS n_phones,
       CAST(len(regexp_extract_all(text, '{PII_IPV4}')) AS INT) AS n_ips,
       {hash60_sql(red)} AS redacted_fp
FROM documents
"""


# ---------------------------------------------------------------------------
# Per-domain quality distributions / token-budget sampling
# ---------------------------------------------------------------------------


def domain_quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-domain distribution of the heuristic quality score:
    DataFrame[source, n_docs, avg_quality, p25, p50, p75].

    The percentile is exact (Spark ``percentile``, DuckDB
    ``quantile_cont`` — both linear-interpolation on the sorted values).
    One shuffle keyed by source with partial aggregation; the quality
    expression itself is the zero-shuffle textstats operator.
    """
    from .textstats import quality_scores

    q = quality_scores(docs, text_col).select("doc_id", "quality_score")
    per = docs.select("doc_id", "source").join(q, "doc_id")
    return per.groupBy("source").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        F.round(F.expr("percentile(quality_score, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(quality_score, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(quality_score, 0.75)"), 6).alias("p75"),
    )


def domain_quality_sql() -> str:
    from .textstats import quality_scores_sql

    return f"""
WITH qs AS ({quality_scores_sql()}),
per AS (
  SELECT d.source, qs.quality_score
  FROM documents d JOIN qs ON d.doc_id = qs.doc_id
)
SELECT source, CAST(COUNT(*) AS INT) AS n_docs,
       ROUND(AVG(quality_score), 6) AS avg_quality,
       ROUND(quantile_cont(quality_score, 0.25), 6) AS p25,
       ROUND(quantile_cont(quality_score, 0.5), 6) AS p50,
       ROUND(quantile_cont(quality_score, 0.75), 6) AS p75
FROM per GROUP BY source
"""


def token_budget_sample(
    docs: DataFrame, budget: int = 800, text_col: str = "text"
) -> DataFrame:
    """Length-balanced sampling: per source, keep documents in
    deterministic hash order while the *running token total* stays
    within ``budget`` — DataFrame[doc_id, source, n_tokens, cum_tokens].

    This is the budget-enforcement form of domain mixing: where
    :func:`balanced_sample` caps document *counts*, this caps *tokens*
    (what the training run actually consumes). The cumulative sum is a
    per-source ordered window — bounded state per partition, and the
    output is capped at ~budget/avg_len docs per source by construction.
    A document is kept iff the budget is not yet exhausted *before* it
    (so the first document of a source always survives — a budget
    smaller than every document still yields one doc per source).
    """
    key = hash60(F.concat(F.lit("tb:"), F.col("doc_id").cast("string")))
    w = (
        Window.partitionBy("source")
        .orderBy(key.asc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = docs.select(
        "doc_id",
        "source",
        token_count(F.col(text_col)).alias("n_tokens"),
        F.coalesce(
            F.sum(token_count(F.col(text_col))).over(w), F.lit(0)
        ).alias("prev_tokens"),
    )
    return ranked.where(F.col("prev_tokens") < budget).select(
        "doc_id",
        "source",
        "n_tokens",
        (F.col("prev_tokens") + F.col("n_tokens"))
        .cast("long")
        .alias("cum_tokens"),
    )


def token_budget_sample_sql(budget: int = 800) -> str:
    from ..functions.hashing import hash60_sql

    key = hash60_sql("concat('tb:', CAST(doc_id AS VARCHAR))")
    return f"""
WITH ranked AS (
  SELECT doc_id, source,
         len({_TOKS_SQL}) AS n_tokens,
         COALESCE(SUM(len({_TOKS_SQL})) OVER
           (PARTITION BY source ORDER BY {key} ASC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prev_tokens
  FROM documents
)
SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
       CAST(prev_tokens + n_tokens AS BIGINT) AS cum_tokens
FROM ranked WHERE prev_tokens < {budget}
"""


# ---------------------------------------------------------------------------
# Importance resampling to a target domain mixture
# ---------------------------------------------------------------------------


def mixture_resample_rates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-domain keep rates that move the corpus to the τ=0.5
    temperature mixture by *downsampling only*:
    DataFrame[source, n_docs, n_tokens, rate].

    The target share of domain d is ∝ sqrt(n_tokens_d) (the same τ=0.5
    scaling :func:`domain_mixture` reports); the downsample-only rates
    that realize those proportions in expectation are

        rate_d = r_d / max_e r_e,   r_d = sqrt(n_tokens_d) / n_tokens_d

    (the global Σsqrt and total-token factors cancel in the
    normalization, so the most over-represented domain is cut hardest
    and the most under-represented keeps 100%). Written in exactly this
    cancelled form on purpose: every r_d derives from one BIGINT token
    count via correctly-rounded sqrt/division, and the normalizer is a
    MAX — order-independent, so Spark and DuckDB produce bit-identical
    rates with no cross-domain float-summation-order hazard (a Σ-based
    form would compare draws against an engine-order-dependent sum).

    Scale: one map-side-combinable aggregate to ~|domains| rows, one
    window over that tiny aggregate. The rate column is unrounded — it
    feeds :func:`mixture_resample`'s keep decision.
    """
    per = docs.groupBy("source").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum(token_count(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    r = F.sqrt(F.col("n_tokens").cast("double")) / F.col("n_tokens").cast(
        "double"
    )
    w = Window.partitionBy()
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        (r / F.max(r).over(w)).alias("rate"),
    )


def mixture_resample(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Documents surviving the τ=0.5 mixture resample — the corpus
    :func:`mixture_resample_rates` describes, materialized:
    DataFrame[doc_id, source] (kept rows only).

    Keep decision: counter-based uniform draw (keyed ``'mr:' + doc_id``)
    < the domain's rate — deterministic, reproducible on any cluster
    size, no RNG state. The tiny rate table joins back onto the corpus
    (broadcast by size), so the only full-data shuffles are the two
    map-side-combinable per-domain aggregates.
    """
    rates = mixture_resample_rates(docs, text_col).select("source", "rate")
    u = uniform01(F.concat(F.lit("mr:"), F.col("doc_id").cast("string")))
    return (
        docs.join(F.broadcast(rates), "source")
        .where(u < F.col("rate"))
        .select("doc_id", "source")
    )


def mixture_resample_report(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Oracle-facing summary of the resample: DataFrame[source, n_docs,
    n_tokens, rate(6dp), n_kept, kept_tokens] — per-domain before/after
    sizes, so the oracle checks the rates AND every keep decision's
    aggregate effect without materializing doc lists."""
    rates = mixture_resample_rates(docs, text_col)
    u = uniform01(F.concat(F.lit("mr:"), F.col("doc_id").cast("string")))
    kept = (
        docs.join(
            F.broadcast(rates.select("source", "rate")), "source"
        )
        .where(u < F.col("rate"))
        .groupBy("source")
        .agg(
            F.count("*").cast("int").alias("n_kept"),
            F.sum(token_count(F.col(text_col)))
            .cast("long")
            .alias("kept_tokens"),
        )
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round("rate", 6).alias("rate"),
            F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0))
            .cast("long")
            .alias("kept_tokens"),
        )
    )


def mixture_resample_report_sql() -> str:
    u = uniform01_sql("concat('mr:', CAST(doc_id AS VARCHAR))")
    return f"""
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS INT) AS n_docs,
         CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
rates AS (
  SELECT source, n_docs, n_tokens,
         (sqrt(CAST(n_tokens AS DOUBLE)) / CAST(n_tokens AS DOUBLE))
           / MAX(sqrt(CAST(n_tokens AS DOUBLE))
                 / CAST(n_tokens AS DOUBLE)) OVER () AS rate
  FROM per
),
kept AS (
  SELECT d.source,
         CAST(COUNT(*) AS INT) AS n_kept,
         CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS kept_tokens
  FROM documents d JOIN rates r ON r.source = d.source
  WHERE {u} < r.rate
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.n_tokens,
       ROUND(r.rate, 6) AS rate,
       CAST(COALESCE(k.n_kept, 0) AS INT) AS n_kept,
       CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
FROM rates r LEFT JOIN kept k ON k.source = r.source
"""


# ---------------------------------------------------------------------------
# Bloom-filter membership (approximate contamination at summary size)
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 16
BLOOM_K = 4


def _bloom_positions(h: F.Column, k: int, m_bits: int) -> list[F.Column]:
    """k deterministic bit positions for a 60-bit hash ``h`` via the
    double-hashing scheme pos_i = (h + i·(1 + h mod (m−1))) mod m —
    derived from one hash, so the SQL twin is one shared expression."""
    step = F.lit(1) + (h % F.lit(m_bits - 1))
    return [(h + F.lit(i) * step) % F.lit(m_bits) for i in range(k)]


def bloom_bits(
    hashes: DataFrame,
    h_col: str = "h",
    m_bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Bloom filter of a hash column as its SET-BIT table:
    DataFrame[pos] (distinct, ≤ m_bits rows) — the summary a
    decontamination service ships instead of the full n-gram set.
    Bounded by ``m_bits`` regardless of input size, and filters of
    shards merge by unioning positions (tested)."""
    pos = F.explode(
        F.array(*_bloom_positions(F.col(h_col), k, m_bits))
    ).alias("pos")
    return hashes.select(pos).distinct()


def bloom_contamination(
    docs: DataFrame,
    n: int = 3,
    holdout_mod: int = 10,
    m_bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
    text_col: str = "text",
) -> DataFrame:
    """:func:`contamination` answered from a Bloom filter of the
    training split instead of the exact distinct-hash set:
    DataFrame[doc_id, n_ngrams, n_flagged, flag_frac].

    One-sided by construction: every truly-contaminated n-gram is
    flagged (no false negatives — asserted against the exact operator
    in tests); false positives are bounded by the (1−e^{−kn/m})^k
    analysis. The train-side state shrinks from |distinct n-grams|
    bigints to ≤ ``m_bits`` bit positions — at 100 TB the exact set is
    a multi-TB shuffle side, the Bloom table is kilobytes and
    broadcast; that trade is the whole point of the variant.
    """
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias(
            "g"
        ),
    ).select("doc_id", hash60(F.col("g")).alias("h"))
    train_bits = bloom_bits(
        grams.where(F.col("doc_id") % holdout_mod != 0).select("h"),
        m_bits=m_bits,
        k=k,
    ).withColumn("set_", F.lit(1))
    test = grams.where(F.col("doc_id") % holdout_mod == 0)
    probes = test.select(
        "doc_id",
        "h",
        F.posexplode(
            F.array(*_bloom_positions(F.col("h"), k, m_bits))
        ).alias("i", "pos"),
    )
    per_gram = (
        probes.join(F.broadcast(train_bits), "pos", "left")
        .groupBy("doc_id", "h")
        .agg(
            (F.sum(F.coalesce(F.col("set_"), F.lit(0))) == F.lit(k))
            .cast("int")
            .alias("flagged")
        )
    )
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_ngrams"),
            F.sum("flagged").cast("int").alias("n_flagged"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_flagged",
            F.round(
                F.col("n_flagged").cast("double") / F.col("n_ngrams"), 6
            ).alias("flag_frac"),
        )
    )


def bloom_contamination_sql(
    n: int = 3,
    holdout_mod: int = 10,
    m_bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
) -> str:
    from ..functions.hashing import hash60_sql

    def positions(h: str) -> str:
        return "[" + ", ".join(
            f"({h} + {i} * (1 + ({h} % {m_bits - 1}))) % {m_bits}"
            for i in range(k)
        ) + "]"

    return f"""
WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
grams AS (
  SELECT doc_id, {hash60_sql('g')} AS h
  FROM (SELECT doc_id, unnest(list_distinct({_ngrams_sql(n)})) AS g
        FROM base)
),
train_bits AS (
  SELECT DISTINCT unnest({positions('h')}) AS pos
  FROM grams WHERE doc_id % {holdout_mod} <> 0
),
probes AS (
  SELECT doc_id, h, unnest({positions('h')}) AS pos
  FROM grams WHERE doc_id % {holdout_mod} = 0
),
per_gram AS (
  SELECT p.doc_id, p.h,
         CASE WHEN SUM(CASE WHEN tb.pos IS NOT NULL THEN 1 ELSE 0 END)
                   = {k} THEN 1 ELSE 0 END AS flagged
  FROM probes p LEFT JOIN train_bits tb ON tb.pos = p.pos
  GROUP BY p.doc_id, p.h
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_ngrams,
       CAST(SUM(flagged) AS INT) AS n_flagged,
       ROUND(CAST(SUM(flagged) AS DOUBLE) / COUNT(*), 6) AS flag_frac
FROM per_gram GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Training-output stage: deterministic shards + weighted interleave order
# ---------------------------------------------------------------------------

TRAIN_SHARDS = 16


def shard_stats(
    docs: DataFrame,
    n_shards: int = TRAIN_SHARDS,
    text_col: str = "text",
) -> DataFrame:
    """Deterministic training-shard assignment, reported as per-shard
    stats: DataFrame[shard, n_docs, n_tokens].

    shard = hash60("shard-" ‖ doc_id) mod n_shards — the global
    pseudorandom shuffle a training job wants (neighbors in the corpus
    land in different shards), as a pure function of doc_id: any two
    runs, any partitioning, any engine assign identically (the write
    itself is then a repartition on this column). Balance follows from
    the hash; the stats output is the auditable contract (even shard
    sizes, token totals for step-count planning).
    """
    from ..functions.hashing import hash60

    shard = (
        hash60(F.concat(F.lit("shard-"), F.col("doc_id").cast("string")))
        % F.lit(n_shards)
    ).alias("shard")
    return (
        docs.select(shard, token_count(F.col(text_col)).alias("toks"))
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
        )
    )


def shard_stats_sql(n_shards: int = TRAIN_SHARDS) -> str:
    from ..functions.hashing import hash60_sql

    h = hash60_sql("CONCAT('shard-', CAST(doc_id AS VARCHAR))")
    toks = (
        "len(list_filter(string_split("
        "trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' '), "
        "t -> t <> ''))"
    )
    return f"""
SELECT {h} % {n_shards} AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({toks}) AS BIGINT) AS n_tokens
FROM documents GROUP BY 1
"""


def interleave_order(docs: DataFrame, source_col: str = "source") -> DataFrame:
    """Deterministic training order with domains interleaved by size:
    DataFrame[seq, doc_id, source] where seq is the 1-based global
    training position.

    Within each domain, documents are shuffled pseudorandomly (ordered
    by hash of doc_id). Across domains, position i of domain d gets
    merge key i/√n_d — the standard weighted-interleave construction:
    a domain with weight w_d = √n_d (the sqrt-temperature mixture this
    engine's domain_mixture uses) appears every ~1/w_d positions, so
    no stretch of the training stream is dominated by one source and
    small domains are spread across the whole epoch rather than
    exhausted early. The global sequence comes from
    :func:`~.relational.global_rank` (two-pass rank — no single-
    partition window); every step is a pure function of the data, so
    the order is reproducible across runs, partitionings, and engines.
    """
    from pyspark.sql import Window

    from ..functions.hashing import hash60
    from .relational import global_rank

    nd = Window.partitionBy(source_col)
    wd = Window.partitionBy(source_col).orderBy(
        hash60(F.concat(F.lit("ord-"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    keyed = docs.select(
        "doc_id",
        F.col(source_col).alias("source"),
        (
            F.row_number().over(wd).cast("double")
            / F.sqrt(F.count("*").over(nd).cast("double"))
        ).alias("_key"),
    )
    return global_rank(keyed, "_key", "doc_id", rank_col="seq").select(
        "seq", "doc_id", "source"
    )


def interleave_order_sql() -> str:
    from ..functions.hashing import hash60_sql

    h = hash60_sql("CONCAT('ord-', CAST(doc_id AS VARCHAR))")
    return f"""
WITH keyed AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY {h}, doc_id
         ) AS DOUBLE)
         / SQRT(CAST(COUNT(*) OVER (PARTITION BY source) AS DOUBLE))
           AS _key
  FROM documents
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY _key, doc_id) AS BIGINT) AS seq,
       doc_id, source
FROM keyed
"""


PACK_CONTEXT = 1024


def pack_sequences(
    docs: DataFrame,
    context_len: int = PACK_CONTEXT,
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-pretraining
    packing (documents concatenated in a deterministic order, the token
    stream split at fixed ``context_len`` boundaries): DataFrame
    [doc_id, n_tokens, tok_start, first_chunk, last_chunk,
    spans_boundary].

    ``tok_start`` is the document's global token offset (exclusive
    prefix sum of token counts in doc_id order), so
    ``first_chunk = tok_start // C`` and ``last_chunk = (tok_start +
    n_tokens - 1) // C`` identify exactly which training examples the
    document lands in; ``spans_boundary`` flags documents split across
    a chunk boundary (the attention-masking / doc-boundary-loss cases a
    training job must count). An empty document occupies no tokens and
    reports ``last_chunk = first_chunk``.

    100 TB shape: the only global step is the prefix sum, computed with
    :func:`~.relational.global_prefix_sum` (range partition +
    per-partition sums + driver cumsum over ≤ n_partitions longs) —
    never a single-partition window. Everything after it is per-row
    arithmetic. The reference has no training-output stage; this
    extends the shard/interleave family above.
    """
    from ..functions.text import token_count
    from .relational import global_prefix_sum

    sized = docs.select(
        "doc_id", token_count(F.col(text_col)).cast("long").alias("n_tokens")
    )
    pre = global_prefix_sum(
        sized, "n_tokens", "doc_id", out_col="tok_start"
    )
    c = F.lit(context_len).cast("long")
    first = (F.col("tok_start") / c).cast("long")
    last_pos = F.col("tok_start") + F.greatest(
        F.col("n_tokens") - 1, F.lit(0).cast("long")
    )
    last = (last_pos / c).cast("long")
    return pre.select(
        "doc_id",
        "n_tokens",
        "tok_start",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        (last > first).alias("spans_boundary"),
    )


def pack_sequences_sql(context_len: int = PACK_CONTEXT) -> str:
    """DuckDB twin of :func:`pack_sequences` (the window form the
    two-pass prefix sum replaces)."""
    toks = "len(list_filter(string_split(text, ' '), t -> t <> ''))"
    return f"""
WITH sized AS (
  SELECT doc_id, CAST({toks} AS BIGINT) AS n_tokens FROM documents
),
pre AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
  FROM sized
)
SELECT doc_id, n_tokens, tok_start,
       CAST(tok_start // {context_len} AS BIGINT) AS first_chunk,
       CAST((tok_start + GREATEST(n_tokens - 1, 0)) // {context_len}
            AS BIGINT) AS last_chunk,
       (tok_start + GREATEST(n_tokens - 1, 0)) // {context_len}
         > tok_start // {context_len} AS spans_boundary
FROM pre
"""


def pack_chunk_stats(
    docs: DataFrame,
    context_len: int = PACK_CONTEXT,
    text_col: str = "text",
) -> DataFrame:
    """Per-training-example view of the packing: DataFrame[chunk_id,
    n_docs, n_tokens, n_pad] — how many documents contribute to each
    fixed-length example, how many real tokens it holds, and the
    padding in the (only) partial final chunk.

    Plan: :func:`pack_sequences` gives each document its chunk span;
    exploding ``sequence(first_chunk, last_chunk)`` fans each document
    out to the chunks it overlaps (total fan-out = total_tokens /
    context_len + n_docs — bounded, never quadratic), and the overlap
    length is pure arithmetic. One groupBy(chunk_id) aggregation.
    """
    packed = pack_sequences(docs, context_len, text_col).where(
        F.col("n_tokens") > 0
    )
    c = F.lit(context_len).cast("long")
    doc_end = F.col("tok_start") + F.col("n_tokens")  # exclusive
    per_chunk = packed.select(
        "tok_start",
        "n_tokens",
        F.explode(
            F.sequence(F.col("first_chunk"), F.col("last_chunk"))
        ).alias("chunk_id"),
    ).select(
        "chunk_id",
        (
            F.least(doc_end, (F.col("chunk_id") + 1) * c)
            - F.greatest(F.col("tok_start"), F.col("chunk_id") * c)
        ).alias("overlap"),
    )
    return per_chunk.groupBy("chunk_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("overlap").cast("long").alias("n_tokens"),
        (F.lit(context_len).cast("long") - F.sum("overlap").cast("long")).alias(
            "n_pad"
        ),
    )


def pack_chunk_stats_sql(context_len: int = PACK_CONTEXT) -> str:
    """DuckDB twin of :func:`pack_chunk_stats`."""
    return f"""
WITH packed AS (
  SELECT * FROM ({pack_sequences_sql(context_len)}) WHERE n_tokens > 0
),
per_chunk AS (
  SELECT unnest(range(first_chunk, last_chunk + 1)) AS chunk_id,
         tok_start, n_tokens
  FROM packed
)
SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEAST(tok_start + n_tokens, (chunk_id + 1) * {context_len})
              - GREATEST(tok_start, chunk_id * {context_len}))
            AS BIGINT) AS n_tokens,
       CAST({context_len} - SUM(
              LEAST(tok_start + n_tokens, (chunk_id + 1) * {context_len})
              - GREATEST(tok_start, chunk_id * {context_len}))
            AS BIGINT) AS n_pad
FROM per_chunk GROUP BY chunk_id
"""


def leakage_safe_splits(
    docs: DataFrame,
    pairs: DataFrame,
    train: int = 80,
    val: int = 10,
    doc_id: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """Leakage-aware train/val/test assignment:
    DataFrame[doc_id, cluster_rep, split] where every document in the
    same near-duplicate component (transitive closure over ``pairs``)
    shares ``cluster_rep`` and therefore lands in the SAME split — the
    guard against eval contamination that doc-level random splitting
    cannot give (a near-dup of a training doc in the test set). The
    split is a counter-based hash of the cluster representative
    (train/val/test = ``train``/``val``/rest percent buckets), so the
    assignment is reproducible on any engine and stable under corpus
    growth for unchanged clusters.

    Plan: the component labeling is the shared hook + shortcut
    closure (:func:`duplicate_components`); the assignment itself is
    one left join plus a hash expression — no extra shuffle beyond the
    closure.
    ``components``: a precomputed ``duplicate_components(pairs)``
    table; pass it when the pipeline already ran the closure for the
    survivor step (the 10M-doc composed stress measured the repeated
    closure at 87 s / 15 GiB shuffle — tools/pipeline_stress.py)."""
    from .dedup import duplicate_components

    comp = (
        components if components is not None else duplicate_components(pairs)
    )
    base = docs.select(F.col(doc_id).cast("long").alias("doc_id"))
    assigned = base.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component_id"), F.col("doc_id"))
        .cast("long")
        .alias("cluster_rep"),
    )
    bucket = (
        hash60(
            F.concat(
                F.lit("split:"), F.col("cluster_rep").cast("string")
            )
        )
        % 100
    )
    return assigned.select(
        "doc_id",
        "cluster_rep",
        F.when(bucket < train, "train")
        .when(bucket < train + val, "val")
        .otherwise("test")
        .alias("split"),
    )


def leakage_safe_splits_sql(
    pairs_sql: str, train: int = 80, val: int = 10
) -> str:
    """DuckDB twin of :func:`leakage_safe_splits` (same closure, same
    counter-based bucket)."""
    from .dedup import duplicate_components_sql
    from ..functions.hashing import hash60_sql

    comp = duplicate_components_sql(pairs_sql)
    bucket = hash60_sql(
        "concat('split:', CAST(cluster_rep AS VARCHAR))"
    )
    return f"""
WITH comp AS ({comp}),
assigned AS (
  SELECT d.doc_id,
         CAST(COALESCE(c.component_id, d.doc_id) AS BIGINT)
           AS cluster_rep
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, cluster_rep,
       CASE WHEN {bucket} % 100 < {train} THEN 'train'
            WHEN {bucket} % 100 < {train + val} THEN 'val'
            ELSE 'test' END AS split
FROM assigned
"""


# ---------------------------------------------------------------------------
# Gopher-style rule-based quality filter (Rae et al. 2021, Appendix A)
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 2_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 8.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 1


def gopher_quality_report(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Gopher-style rule-based quality filter: DataFrame[doc_id,
    n_words, mean_word_len, frac_alpha_words, stop_hits, passes] —
    the classic pre-LLM-training document gate (word-count bounds,
    mean-word-length bounds, alphabetic-word fraction, stopword
    presence; Rae et al. 2021 Appendix A, thresholds adapted to the
    fixture's register). Complements the continuous
    ``quality_scores``: this is the hard REJECT gate pipelines run
    first, that one the soft ranking they sample by.

    Pure per-row Catalyst expressions (one narrow pass, filters push
    down); floats rounded 6 dp for the exact DuckDB twin."""
    from .textstats import STOPWORDS

    toks = tokens(F.col(text_col))
    n_words = F.size(toks)
    mean_len = F.round(
        F.aggregate(
            toks, F.lit(0), lambda acc, t: acc + F.length(t)
        ).cast("double")
        / n_words,
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
        .cast("double")
        / n_words,
        6,
    )
    stopset = F.array(*[F.lit(w) for w in STOPWORDS])
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), stopset)
    )
    passes = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("frac_alpha_words"),
        stop_hits.cast("int").alias("stop_hits"),
        passes.alias("passes"),
    )


def gopher_quality_report_sql() -> str:
    """DuckDB twin of :func:`gopher_quality_report` (same expressions,
    same rounding, same thresholds)."""
    from .textstats import STOPWORDS

    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         ROUND(CAST(list_sum(list_transform(toks, x -> length(x)))
                    AS DOUBLE) / len(toks), 6) AS mean_word_len,
         ROUND(CAST(len(list_filter(toks,
                    x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
               / len(toks), 6) AS frac_alpha_words,
         CAST(len(list_intersect(list_distinct(toks), [{stops}]))
              AS INT) AS stop_hits
  FROM t
)
SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len,
       frac_alpha_words, stop_hits,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
        AND mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN!r}
        AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN!r}
        AND frac_alpha_words >= {GOPHER_MIN_ALPHA_FRAC!r}
        AND stop_hits >= {GOPHER_MIN_STOP_HITS}) AS passes
FROM m
"""


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling")
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024


def dsir_feature_buckets(
    docs: DataFrame,
    target_pred: str = "lang = 'en'",
    n_buckets: int = DSIR_BUCKETS,
    text_col: str = "text",
    hash_mode: str = "md5",
) -> DataFrame:
    """(doc_id, is_target, bucket) — one row per hashed unigram/bigram
    occurrence. The shared feature front-end of :func:`dsir_importance`
    and the streaming twin (streaming/curation_stream.DsirBucketState),
    which is what makes their parity structural."""
    return docs.select(
        "*",
        F.explode(
            F.concat(
                tokens(F.col(text_col)),
                word_ngrams(F.col(text_col), 2),
            )
        ).alias("feat"),
    ).select(
        "doc_id",
        F.expr(target_pred).alias("is_target"),
        F.pmod(hash60(F.col("feat"), mode=hash_mode), n_buckets).alias(
            "bucket"
        ),
    )


def dsir_importance(
    docs: DataFrame,
    target_pred: str = "lang = 'en'",
    n_buckets: int = DSIR_BUCKETS,
    text_col: str = "text",
    hash_mode: str = "md5",
) -> DataFrame:
    """Per-document importance score of the raw corpus against a target
    distribution, DSIR-style: DataFrame[doc_id, n_feats, imp_milli].

    DSIR estimates importance weights w(x) = p_target(x)/p_raw(x) under
    bag-of-hashed-n-grams unigram models: documents whose hashed
    (unigram + bigram) feature profile looks like the target subset
    (here ``target_pred``, e.g. high-quality English) score high and are
    kept; off-target documents score low. This implementation keeps the
    paper's estimator shape — hashed n-gram buckets, add-1-smoothed
    bucket probabilities from target vs raw counts — but scores in the
    LINEAR domain (the engine's tfidf/unigram_rarity convention):

        q_b      = (1_000_000 * (t_b + 1)) div (r_b + 1)
        imp(x)   = (Σ_{f∈x} q_{bucket(f)}) div n_feats(x)

    i.e. the per-feature arithmetic mean of the target/raw count ratio
    (milli-scaled) instead of the geometric mean the paper's log-sum
    computes — the first-order equivalent around ratio 1, and exactly
    reproducible cross-engine because no libm log is bit-portable
    (measured; see tfidf_top_terms). The global normalizer
    (R + B)/(T + B) is a rank-neutral constant and is dropped.

    Plan: one explode to (doc_id, bucket) — bucket = hash60(feature)
    mod n_buckets — then a bucket-keyed count (n_buckets rows, add-1
    smoothed), a conditional count for the target side IN THE SAME
    aggregation (no second pass over the corpus), a broadcast join of
    the tiny bucket table back onto the exploded stream, and a per-doc
    sum. At 100 TB: the bucket table is n_buckets rows regardless of
    corpus size; the only big shuffle is the (doc_id)-keyed final sum,
    and map-side combine collapses it to one row per doc per mapper.

    ``hash_mode="xxhash64"`` swaps the feature hash to the JVM-intrinsic
    fast path for production (no DuckDB twin; see hashing.hash60).
    """
    feats = dsir_feature_buckets(
        docs, target_pred, n_buckets, text_col, hash_mode
    )
    buckets = feats.groupBy("bucket").agg(
        F.count("*").cast("long").alias("r"),
        F.sum(F.col("is_target").cast("long")).cast("long").alias("t"),
    )
    q = buckets.select(
        "bucket",
        F.expr("(1000000 * (t + 1)) div (r + 1)").alias("q"),
    )
    return (
        feats.join(F.broadcast(q), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_feats"),
            F.expr("sum(q) div count(*)").cast("long").alias("imp_milli"),
        )
    )


def dsir_importance_sql(
    target_pred: str = "lang = 'en'",
    n_buckets: int = DSIR_BUCKETS,
) -> str:
    """DuckDB twin of :func:`dsir_importance` (identical md5 buckets,
    identical integer floor divisions)."""
    return f"""
WITH feats AS (
  SELECT doc_id, ({target_pred}) AS is_target,
         {hash60_sql('feat')} % {n_buckets} AS bucket
  FROM (
    SELECT doc_id, lang, unnest(toks || bigrams) AS feat
    FROM (
      SELECT doc_id, lang, toks,
             list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                            i -> toks[i] || ' ' || toks[i + 1])
               AS bigrams
      FROM (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents)
    )
  )
),
buckets AS (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS r,
         CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS t
  FROM feats GROUP BY bucket
),
q AS (
  SELECT bucket, (1000000 * (t + 1)) // (r + 1) AS q FROM buckets
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_feats,
       CAST(SUM(q) // COUNT(*) AS BIGINT) AS imp_milli
FROM feats JOIN q USING (bucket)
GROUP BY doc_id
"""


def dsir_select_topk(
    docs: DataFrame,
    k: int = 100,
    target_pred: str = "lang = 'en'",
    n_buckets: int = DSIR_BUCKETS,
    text_col: str = "text",
    hash_mode: str = "md5",
) -> DataFrame:
    """The selection step: top-``k`` documents by importance,
    DataFrame[doc_id, n_feats, imp_milli] under the total order
    (imp_milli DESC, doc_id). DSIR samples ∝ w with Gumbel noise; this
    is the deterministic top-rate mode of the same decision (the noisy
    draw needs a log, which the cross-engine contract excludes — a
    production pipeline can swap in gumbel sampling on the same
    imp_milli column). TakeOrderedAndProject: no global sort at scale.
    """
    return (
        dsir_importance(
            docs,
            target_pred=target_pred,
            n_buckets=n_buckets,
            text_col=text_col,
            hash_mode=hash_mode,
        )
        .orderBy(F.col("imp_milli").desc(), "doc_id")
        .limit(k)
    )


def dsir_select_topk_sql(
    k: int = 100,
    target_pred: str = "lang = 'en'",
    n_buckets: int = DSIR_BUCKETS,
) -> str:
    """DuckDB twin of :func:`dsir_select_topk`."""
    return (
        f"SELECT * FROM ({dsir_importance_sql(target_pred, n_buckets)})"
        f" ORDER BY imp_milli DESC, doc_id LIMIT {k}"
    )


# ---------------------------------------------------------------------------
# Overlapping-window document chunking (RAG / context-window prep)
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    window: int = 32,
    stride: int = 24,
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token windows:
    DataFrame[doc_id, chunk_id, start_tok, n_tokens, chunk_text] — the
    retrieval/RAG-side counterpart of :func:`pack_sequences` (which
    concatenates for training; this splits for indexing). Chunk i
    covers tokens [i·stride, i·stride + window); the last chunk is the
    final partial window (every token belongs to ≥ 1 chunk; with
    stride < window consecutive chunks overlap by window − stride
    tokens, the standard RAG-context construction). Empty documents
    produce no chunks.

    Plan: a pure per-row explode of slice() windows over the token
    array — no shuffle, no Python; the chunk count per doc is
    ceil(max(n_tokens - window, 0) / stride) + 1, so output size is
    corpus-linear with the overlap factor window/stride. At 100 TB
    this is a narrow map stage feeding the index/embed step.
    """
    if not (0 < stride <= window):
        raise ValueError("chunk_documents: need 0 < stride <= window")
    toks = tokens(F.col(text_col))
    # last chunk index = ceil(max(n - window, 0) / stride)
    last_chunk = (
        f"CAST(ceil(greatest(size(toks) - {window}, 0) / {stride}) AS INT)"
    )
    return (
        docs.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(0, {last_chunk})")).alias(
                "chunk_id"
            ),
            "toks",
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * stride).alias("start_tok"),
            F.expr(
                f"slice(toks, chunk_id * {stride} + 1, {window})"
            ).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.col("start_tok").cast("int").alias("start_tok"),
            F.size("chunk").cast("int").alias("n_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


def chunk_documents_sql(window: int = 32, stride: int = 24) -> str:
    """DuckDB twin of :func:`chunk_documents` (same ceil arithmetic,
    same 1-based slice semantics)."""
    return f"""
WITH base AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
chunks AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(greatest(len(toks) - {window}, 0)
                                   / {stride}) AS INT) + 1)) AS chunk_id
  FROM base WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {stride} AS INT) AS start_tok,
       CAST(len(toks[chunk_id * {stride} + 1 :
                     chunk_id * {stride} + {window}]) AS INT) AS n_tokens,
       array_to_string(toks[chunk_id * {stride} + 1 :
                            chunk_id * {stride} + {window}], ' ')
         AS chunk_text
FROM chunks
"""


# ---------------------------------------------------------------------------
# Corpus drift monitoring (distribution shift between two slices)
# ---------------------------------------------------------------------------


def corpus_drift_report(
    docs: DataFrame,
    split_col: str = "lang",
    base_value: str = "en",
    text_col: str = "text",
) -> DataFrame:
    """Distribution drift between two corpus slices, exact in
    integers: DataFrame[metric, bin, base_n, comp_n, tvd_milli] — the
    pipeline-monitoring signal ("did this ingest's quality/length
    distribution move?"). Two metrics over fixed bins: the quality
    score in tenths (``q_micro // 100000``, capped at 9) and the token
    count in 20-token buckets (capped at 9).

    Drift is TOTAL VARIATION DISTANCE per mille — ``(1000 · Σ_bins
    |base_n·C − comp_n·B|) DIV (2·B·C)`` with B, C the slice totals —
    the standard PSI alternative that needs NO logarithm, so the
    number is a bit-portable integer instead of a float ln both
    engines would round differently. One scan, one 20-group
    aggregation, one 20-row window; nothing driver-side.
    """
    from .textstats import quality_scores

    q = quality_scores(docs, text_col).select("doc_id", "n_tokens",
                                              "quality_score")
    joined = docs.select("doc_id", split_col).join(q, "doc_id")
    is_base = (F.col(split_col) == base_value).cast("long")
    qbin = F.least(
        (F.round(F.col("quality_score") * 1000000).cast("long"))
        / F.lit(100000),
        F.lit(9),
    ).cast("long")
    lbin = F.least(
        (F.col("n_tokens") / F.lit(20)).cast("long"), F.lit(9)
    ).cast("long")
    per_doc = joined.select(
        is_base.alias("_b"),
        F.floor(qbin).alias("_qbin"),
        lbin.alias("_lbin"),
    )
    stacked = per_doc.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("quality_decile").alias("metric"),
                    F.col("_qbin").alias("bin"),
                ),
                F.struct(
                    F.lit("token_bucket").alias("metric"),
                    F.col("_lbin").alias("bin"),
                ),
            )
        ).alias("e"),
        "_b",
    ).select("e.metric", "e.bin", "_b")
    counts = stacked.groupBy("metric", "bin").agg(
        F.sum("_b").cast("long").alias("base_n"),
        F.sum(1 - F.col("_b")).cast("long").alias("comp_n"),
    )
    w = Window.partitionBy("metric")
    return counts.withColumn(
        "_b_tot", F.sum("base_n").over(w)
    ).withColumn(
        "_c_tot", F.sum("comp_n").over(w)
    ).withColumn(
        "_cross",
        F.sum(
            F.abs(
                F.col("base_n") * F.col("_c_tot")
                - F.col("comp_n") * F.col("_b_tot")
            )
        ).over(w),
    ).select(
        "metric",
        F.col("bin").cast("int").alias("bin"),
        "base_n",
        "comp_n",
        F.expr(
            "CAST(1000 * _cross DIV (2 * _b_tot * _c_tot) AS BIGINT)"
        ).alias("tvd_milli"),
    )


def corpus_drift_report_sql(
    split_col: str = "lang", base_value: str = "en"
) -> str:
    """DuckDB twin of :func:`corpus_drift_report`."""
    from .textstats import quality_scores_sql

    return f"""
WITH q AS ({quality_scores_sql()}),
per_doc AS (
  SELECT CAST(d.{split_col} = {sql_str(base_value)} AS BIGINT) AS b,
         least(CAST(ROUND(q.quality_score * 1000000) AS BIGINT)
               // 100000, 9) AS qbin,
         least(CAST(q.n_tokens AS BIGINT) // 20, 9) AS lbin
  FROM documents d JOIN q ON d.doc_id = q.doc_id
),
stacked AS (
  SELECT 'quality_decile' AS metric, qbin AS bin, b FROM per_doc
  UNION ALL
  SELECT 'token_bucket' AS metric, lbin AS bin, b FROM per_doc
),
counts AS (
  SELECT metric, CAST(bin AS INT) AS bin,
         CAST(SUM(b) AS BIGINT) AS base_n,
         CAST(SUM(1 - b) AS BIGINT) AS comp_n
  FROM stacked GROUP BY 1, 2
),
tot AS (
  SELECT metric, bin, base_n, comp_n,
         SUM(base_n) OVER (PARTITION BY metric) AS b_tot,
         SUM(comp_n) OVER (PARTITION BY metric) AS c_tot
  FROM counts
)
SELECT metric, bin, base_n, comp_n,
       CAST(1000 * SUM(ABS(base_n * c_tot - comp_n * b_tot))
                   OVER (PARTITION BY metric)
            // (2 * b_tot * c_tot) AS BIGINT) AS tvd_milli
FROM tot
"""


def dq_report(
    df: DataFrame,
    checks: list[tuple],
) -> DataFrame:
    """Deequ-style data-quality report over one table:
    DataFrame[check, metric, passed] — each check is
    (name, metric aggregate Column (BIGINT), pass predicate over the
    metric). ALL metrics evaluate in ONE aggregation pass (a single
    1-row job whatever the rule count — the Verification-Suite shape),
    then unpivot row-locally; fractions use the engine's exact milli
    convention (1000·x // y), never floats.

    Table-level validation next to the doc-level Gopher gate and the
    ZTable CHECK constraints: constraints stop bad writes, this
    PROFILES a table you didn't write — the acceptance scan before a
    corpus joins the training mix."""
    agg_row = df.agg(
        *[m.cast("long").alias(f"_m{i}") for i, (_, m, _) in enumerate(checks)]
    )
    structs = [
        F.struct(
            F.lit(name).alias("check"),
            F.col(f"_m{i}").alias("metric"),
            passed(F.col(f"_m{i}")).alias("passed"),
        )
        for i, (name, _, passed) in enumerate(checks)
    ]
    return agg_row.select(
        F.explode(F.array(*structs)).alias("r")
    ).select("r.check", "r.metric", "r.passed")


def referential_check(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    name: str = "orphans",
) -> DataFrame:
    """Referential-integrity row for :func:`dq_report`'s report:
    DataFrame[check, metric, passed] with metric = the number of
    child rows whose key has no parent (left anti join — the build
    side broadcasts when small, and the count never materializes the
    orphan rows), passed iff zero."""
    n = (
        child.join(
            parent.select(F.col(parent_key).alias(child_key)).distinct(),
            child_key,
            "left_anti",
        )
        .agg(F.count("*").cast("long").alias("m"))
    )
    return n.select(
        F.lit(name).alias("check"),
        F.col("m").alias("metric"),
        (F.col("m") == 0).alias("passed"),
    )


def leakage_safe_negatives(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = 4,
    seed: int = 0,
) -> DataFrame:
    """Contrastive-training negatives that can never be secret
    positives: DataFrame[doc_id, neg_idx, neg_doc_id] — for every doc,
    up to ``k`` pseudo-random corpus docs EXCLUDING the doc itself and
    its whole near-dup cluster (the same closure leakage_safe_splits
    uses). A uniform negative sampler that ignores near-duplicates
    feeds the model "negatives" that are literal copies of the anchor
    — the classic contrastive-data leak; filtering by the duplicate
    component closes it exactly.

    Draws are the counter-based PRNG: candidate j for doc d is the
    corpus doc at rank 1 + md5(seed, d, j) mod n over the global
    doc_id order — deterministic, order-free, SQL-reproducible.
    Rejected draws (self or same-cluster) are DROPPED, not resampled:
    rejection loops don't vectorize, the expected loss is
    |cluster|/n per draw, and the honest contract is "at most k"
    (mirrored in both engines).

    Plan: docs × k Generate (bounded fan-out) → one join on the rank
    map (global_rank's two-pass order) → two broadcast-sized cluster
    lookups → filter. No data-sized windows, no cartesian.
    """
    from .dedup import duplicate_components
    from .relational import global_rank

    n = docs.count()
    ranked = global_rank(
        docs.select(F.col("doc_id").cast("long").alias("doc_id")),
        "doc_id",
        rank_col="rk",
    )
    comp = duplicate_components(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component_id").alias("comp"),
    )
    anchors = ranked.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("comp"), F.col("doc_id")).alias("a_comp"),
    )
    fanned = anchors.select(
        "doc_id",
        "a_comp",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("neg_idx"),
    )
    cand_rk = (
        hash60(
            F.concat_ws(
                "-",
                F.lit("neg"),
                F.lit(str(seed)),
                F.col("doc_id").cast("string"),
                F.col("neg_idx").cast("string"),
            )
        )
        % n
        + 1
    )
    cands = fanned.select(
        "doc_id", "a_comp", "neg_idx", cand_rk.alias("rk")
    )
    resolved = cands.join(
        ranked.select(
            F.col("doc_id").alias("neg_doc_id"), "rk"
        ),
        "rk",
    )
    neg_comp = comp.select(
        F.col("doc_id").alias("neg_doc_id"),
        F.col("comp").alias("n_comp"),
    )
    return (
        resolved.join(neg_comp, "neg_doc_id", "left")
        .select(
            "doc_id",
            F.col("neg_idx").cast("long").alias("neg_idx"),
            "neg_doc_id",
            F.coalesce(F.col("n_comp"), F.col("neg_doc_id")).alias(
                "nc"
            ),
            "a_comp",
        )
        .where(
            (F.col("neg_doc_id") != F.col("doc_id"))
            & (F.col("nc") != F.col("a_comp"))
        )
        .select("doc_id", "neg_idx", "neg_doc_id")
    )


def leakage_safe_negatives_sql(
    pairs_sql: str, k: int = 4, seed: int = 0
) -> str:
    """DuckDB twin of :func:`leakage_safe_negatives` (the corpus size
    enters the draw as an inline COUNT(*), so the twin is valid at
    any sf)."""
    from .dedup import duplicate_components_sql

    h = hash60_sql(
        f"concat('neg', '-', '{seed}', '-', CAST(a.doc_id AS VARCHAR),"
        f" '-', CAST(j.neg_idx AS VARCHAR))"
    )
    return f"""
WITH comp AS ({duplicate_components_sql(pairs_sql)}),
nn AS (SELECT COUNT(*) AS n FROM documents),
ranked AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS rk
  FROM documents
),
anchors AS (
  SELECT r.doc_id, COALESCE(c.component_id, r.doc_id) AS a_comp
  FROM ranked r LEFT JOIN comp c ON c.doc_id = r.doc_id
),
cands AS (
  SELECT a.doc_id, a.a_comp, j.neg_idx,
         ({h}) % nn.n + 1 AS rk
  FROM anchors a CROSS JOIN (
    SELECT unnest(range({k})) AS neg_idx
  ) j CROSS JOIN nn
)
SELECT c.doc_id, CAST(c.neg_idx AS BIGINT) AS neg_idx,
       r.doc_id AS neg_doc_id
FROM cands c
JOIN ranked r ON r.rk = c.rk
LEFT JOIN comp nc ON nc.doc_id = r.doc_id
WHERE r.doc_id <> c.doc_id
  AND COALESCE(nc.component_id, r.doc_id) <> c.a_comp
"""
