"""X5: text analysis over the documents corpus — the LLM-data-pipeline
surface (quality scoring, token counting, language ID, fingerprinting,
TF-IDF) generalizing the reference's caption-string processing (reference:
src/bioclip_vector_db/parse_utils.py O8 is its only text operator).

Everything here is pure Catalyst string/array expressions + aggregations:

- tokenization is ``split`` + ``explode`` (map-side, fused into the scan);
- word counts / document frequencies are groupBy aggregations with map-side
  partial combine — the classic linear-scan shape that holds at 100 TB;
- TF-IDF joins the per-word document-frequency table back to term counts:
  the DF table is vocabulary-sized — unbounded at web scale — so the join
  carries NO broadcast hint; AQE broadcasts small vocabularies and falls
  back to a word-keyed shuffled hash join (exchange reuse) for large ones;
- fingerprints are md5 digests — constant bytes per doc downstream no
  matter the document size (the same "digest, then operate on digests"
  pattern as operators.dedup).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import lit_array
from ..plans.registry import register
from ..sources.catalog import load_table

#: Tiny inline stopword lists for the language-ID heuristic [Q]. Real
#: deployments would broadcast real lists; the mechanism (distinct-token
#: intersection per language, argmax with deterministic tiebreak) is the same.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "una", "es", "por"),
}

#: BPE-ish tokenizer regex: letter runs, digit runs, or single symbols.
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def words(text: Column) -> Column:
    """Whitespace tokens, empties dropped."""
    return F.filter(F.split(text, " "), lambda w: w != "")


def doc_stats(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics: counts, lengths, lexical diversity."""
    w = words(F.col(text_col))
    return df.select(
        "doc_id",
        F.length(text_col).cast("bigint").alias("char_len"),
        F.size(w).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(w)).cast("bigint").alias("n_distinct_words"),
        F.round(
            F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x)) / F.size(w), 9
        ).alias("avg_word_len"),
        F.round(F.size(F.array_distinct(w)) / F.size(w), 9).alias("distinct_ratio"),
    )


def word_counts(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Corpus-wide word frequencies — explode + count with map-side combine."""
    return (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def language_id(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Stopword-hit language heuristic: count distinct-token intersections
    with each language's list; argmax with 'und' when nothing hits and an
    en-before-es tiebreak (deterministic)."""
    distinct_words = F.array_distinct(words(F.col(text_col)))
    hits = {
        lang: F.size(F.array_intersect(distinct_words, lit_array(wl)))
        for lang, wl in STOPWORDS.items()
    }
    predicted = (
        F.when((hits["en"] == 0) & (hits["es"] == 0), F.lit("und"))
        .when(hits["en"] >= hits["es"], F.lit("en"))
        .otherwise(F.lit("es"))
    )
    return df.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits["en"].cast("bigint").alias("en_hits"),
        hits["es"].cast("bigint").alias("es_hits"),
        predicted.alias("predicted_lang"),
    )


def tfidf_top_terms(df: DataFrame, top_k: int = 3, *, text_col: str = "text") -> DataFrame:
    """Per-document top-k TF-IDF terms; ranking is a per-doc window
    (WindowGroupLimit).

    The document-frequency table is VOCABULARY-sized — at web scale
    distinct tokens (typos, numbers, code identifiers) run to billions, so
    it must NOT carry a forced broadcast hint: the terms->dfreq join is
    left unhinted and AQE picks broadcast when the measured vocabulary fits
    under ``autoBroadcastJoinThreshold`` and a shuffled hash join keyed on
    ``word`` otherwise (both sides are already word-keyed shuffles from
    their aggregations, so the fallback reuses the exchange). A plan test
    pins the absence of the hint (tests/test_plans.py).

    ``n_docs`` rides the SAME job as a broadcast 1-row aggregate joined
    onto every term (BroadcastNestedLoopJoin of one row — constant-sized,
    the one force-broadcast that is always safe), instead of a separate
    driver-side ``count()`` action per invocation."""
    from pyspark.sql import Window

    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    terms = (
        df.select("doc_id", F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = terms.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        terms.join(dfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            F.round(F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 9).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_k)
    )


def fingerprints(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Two document fingerprints: the exact content digest, and an
    order-insensitive lexical digest (md5 over the sorted distinct token
    set) that survives token reordering — a cheap rolling-hash analog."""
    w = words(F.col(text_col))
    return df.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col(text_col)))).alias("content_fp"),
        F.md5(F.concat_ws("\x01", F.array_sort(F.array_distinct(w)))).alias("lexical_fp"),
    )


# ---------------------------------------------------------------------------
# Declared queries + oracles
# ---------------------------------------------------------------------------

_WORDS_SQL = "list_filter(string_split(text, ' '), w -> w != '')"


@register(
    "text_doc_stats",
    oracle=f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws, text FROM documents)
SELECT doc_id,
       length(text)::BIGINT AS char_len,
       len(ws)::BIGINT AS n_words,
       len(list_distinct(ws))::BIGINT AS n_distinct_words,
       round(list_sum(list_transform(ws, x -> length(x)::DOUBLE)) / len(ws), 9) AS avg_word_len,
       round(len(list_distinct(ws)) * 1.0 / len(ws), 9) AS distinct_ratio
FROM w
""",
)
def q_text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: per-document quality metrics (length, word counts, lexical
    diversity) — the quality-scoring pass of a training-data pipeline."""
    return doc_stats(load_table(spark, sf_dir, "documents"))


@register(
    "text_word_counts",
    oracle=f"""
WITH tokens AS (
    SELECT unnest({_WORDS_SQL}) AS word FROM documents
),
counts AS (SELECT word, count(*)::BIGINT AS n FROM tokens GROUP BY word),
ranked AS (
    SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS rank
    FROM counts
)
SELECT word, n, rank FROM ranked WHERE rank <= 50
""",
)
def q_text_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: corpus-wide top-50 word frequencies, count-desc word-asc."""
    from pyspark.sql import Window

    counts = word_counts(load_table(spark, sf_dir, "documents"))
    # Take the top 50 first via orderBy+limit (TakeOrderedAndProject — a
    # per-partition heap + tiny merge, no global sort), THEN rank: the
    # unpartitioned window only ever sees <=50 rows, so the single-partition
    # WindowExec is bounded by construction at any corpus size.
    top = counts.orderBy(F.col("n").desc(), F.col("word").asc()).limit(50)
    w = Window.orderBy(F.col("n").desc(), F.col("word").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


@register(
    "text_token_counts",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{TOKEN_REGEX}'))::BIGINT AS n_tokens,
       len({_WORDS_SQL})::BIGINT AS n_words
FROM documents
WHERE doc_id % 5 = 0
""",
)
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: BPE-ish regex token counting vs whitespace word counting."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_REGEX), F.lit(0)))
        .cast("bigint")
        .alias("n_tokens"),
        F.size(words(F.col("text"))).cast("bigint").alias("n_words"),
    )


def _stoplist_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


@register(
    "text_language_id",
    oracle=f"""
WITH w AS (
    SELECT doc_id, lang, list_distinct({_WORDS_SQL}) AS dw FROM documents
),
hits AS (
    SELECT doc_id, lang,
           len(list_intersect(dw, {_stoplist_sql('en')}))::BIGINT AS en_hits,
           len(list_intersect(dw, {_stoplist_sql('es')}))::BIGINT AS es_hits
    FROM w
)
SELECT doc_id, lang AS labeled_lang, en_hits, es_hits,
       CASE WHEN en_hits = 0 AND es_hits = 0 THEN 'und'
            WHEN en_hits >= es_hits THEN 'en'
            ELSE 'es' END AS predicted_lang
FROM hits
""",
)
def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: stopword-ratio language-ID heuristic vs the labeled lang."""
    return language_id(load_table(spark, sf_dir, "documents"))


@register(
    "text_tfidf_top_terms",
    oracle=f"""
WITH terms AS (
    SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM terms GROUP BY doc_id, word),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.word,
           round(tf.tf * ln(n.n_docs / dfreq.df), 9) AS tfidf
    FROM tf JOIN dfreq USING (word) CROSS JOIN n
),
ranked AS (
    SELECT doc_id, word, tfidf,
           row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rank
    FROM scored
)
SELECT doc_id, word, tfidf, rank FROM ranked WHERE doc_id < 20 AND rank <= 3
""",
)
def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: top-3 TF-IDF terms per document (doc_id < 20 slice)."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, 3).filter(F.col("doc_id") < 20)


_ALL_STOPWORDS = tuple(w for wl in STOPWORDS.values() for w in wl)

#: DuckDB subquery producing (doc_id, quality) with EXACTLY the rounding
#: sequence quality_scores applies — shared by the text gate's oracle and
#: dedup survivorship's.
QUALITY_SQL = f"""
SELECT doc_id,
       round(round(len(list_filter(ws, x -> list_contains(
                 [{", ".join(f"'{s}'" for s in _ALL_STOPWORDS)}], lower(x)))) * 1.0
                 / len(ws), 9)
             + (1.0 - round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 1.0
                 / length(text), 9)), 9) AS quality
FROM (SELECT doc_id, {_WORDS_SQL} AS ws, text FROM documents)
"""


def quality_scores(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics + composite score + keep gate —
    the Spark twin of QUALITY_SQL (plus the component columns)."""
    w = words(F.col(text_col))
    stop_arr = lit_array(_ALL_STOPWORDS)
    m = df.select(
        "doc_id",
        F.size(w).alias("n_words"),
        F.round(
            F.size(F.filter(w, lambda x: F.array_contains(stop_arr, F.lower(x))))
            / F.size(w),
            9,
        ).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace(text_col, "[a-zA-Z0-9 ]", "")) / F.length(text_col),
            9,
        ).alias("symbol_ratio"),
    )
    return m.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        "stopword_ratio",
        "symbol_ratio",
        # Sum, not mean: halving two 9-decimal ratios lands exactly on
        # decimal rounding ties, which the two engines break differently.
        F.round(
            F.col("stopword_ratio") + (F.lit(1.0) - F.col("symbol_ratio")), 9
        ).alias("quality"),
        (
            (F.col("n_words") >= 5)
            & (F.col("symbol_ratio") < 0.1)
            & (F.col("stopword_ratio") >= 0.02)
        ).alias("keep"),
    )


@register(
    "text_quality_score",
    oracle=f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws, text FROM documents),
m AS (
    SELECT doc_id,
           len(ws) AS n_words,
           round(len(list_filter(ws, x -> list_contains(
               [{", ".join(f"'{s}'" for s in _ALL_STOPWORDS)}], lower(x)))) * 1.0
               / len(ws), 9) AS stopword_ratio,
           round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 1.0
               / length(text), 9) AS symbol_ratio
    FROM w
)
SELECT doc_id, n_words::BIGINT AS n_words, stopword_ratio, symbol_ratio,
       round(stopword_ratio + (1.0 - symbol_ratio), 9) AS quality,
       (n_words >= 5 AND symbol_ratio < 0.1 AND stopword_ratio >= 0.02) AS keep
FROM m
""",
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: C4/Gopher-style quality gate — stopword ratio (over the
    union stoplist), symbol ratio, word-count floor, a composite score,
    and the boolean keep decision a filtering pipeline applies. Pure
    Catalyst expressions fused into the scan."""
    return quality_scores(load_table(spark, sf_dir, "documents"))


@register(
    "documents_train_split",
    oracle="""
WITH assigned AS (
    SELECT lang,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
    FROM (
        SELECT lang,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
        FROM documents
    )
)
SELECT lang, split, count(*)::BIGINT AS n_docs
FROM assigned GROUP BY lang, split
""",
)
def q_documents_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-independent
    id hash (md5 — the cross-engine stable hash), reported per language
    to check stratification. Hash-based assignment is the only split that
    stays stable under corpus growth, re-partitioning, and re-runs — a
    training-data pipeline must never split by row position."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


@register(
    "text_length_quantiles",
    oracle=f"""
WITH w AS (SELECT lang, len({_WORDS_SQL}) AS n_words FROM documents),
q AS (SELECT lang, quantile_cont(n_words, [0.5, 0.9, 0.99]) AS qs FROM w GROUP BY lang)
SELECT lang,
       round(qs[1], 6) AS p50_words,
       round(qs[2], 6) AS p90_words,
       round(qs[3], 6) AS p99_words
FROM q
""",
)
def q_text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: per-language exact interpolated word-count quantiles (the
    sequence-length histogram that sizes batches/context windows). Exact
    ``percentile`` matches DuckDB's quantile_cont bit-for-bit on the
    fixture; at 100 TB the one-line swap is ``percentile_approx`` (t-digest
    sketch, mergeable map-side, no sort)."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("lang", F.size(words(F.col("text"))).alias("n_words"))
    q = w.groupBy("lang").agg(
        F.expr("percentile(n_words, array(0.5D, 0.9D, 0.99D))").alias("qs")
    )
    return q.select(
        "lang",
        F.round(F.col("qs")[0], 6).alias("p50_words"),
        F.round(F.col("qs")[1], 6).alias("p90_words"),
        F.round(F.col("qs")[2], 6).alias("p99_words"),
    )


#: Sketch size for the approx-quantile gate: rank error <= 1/accuracy.
#: At fixture scale every per-language group is smaller than this, so the
#: Greenwald-Khanna summary retains ALL values and the query returns the
#: exact discrete quantile — which DuckDB's quantile_disc reproduces
#: bit-for-bit, making the approx PATH (the one a 100-TB run uses)
#: hash-gateable. tests/test_text.py quantifies the error at a lowered
#: accuracy against the exact twin.
QUANTILE_ACCURACY = 10_000


@register(
    "text_length_quantiles_approx",
    oracle=f"""
WITH w AS (SELECT lang, len({_WORDS_SQL}) AS n_words FROM documents),
q AS (SELECT lang, quantile_disc(n_words, [0.5, 0.9, 0.99]) AS qs FROM w GROUP BY lang)
SELECT lang,
       qs[1]::BIGINT AS p50_words,
       qs[2]::BIGINT AS p90_words,
       qs[3]::BIGINT AS p99_words
FROM q
""",
)
def q_text_length_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: the scale form of text_length_quantiles — percentile_approx
    (mergeable Greenwald-Khanna sketch: map-side partial aggregation, no
    per-group sort, bounded memory) instead of exact interpolated
    percentile. Error contract: rank error <= n/QUANTILE_ACCURACY per
    group; on the fixture every group fits inside the sketch, so the
    result is the exact DISCRETE quantile and the DuckDB quantile_disc
    oracle pins it exactly — the same query text a 100-TB run executes,
    gated without loosening the hash-exact parity convention."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("lang", F.size(words(F.col("text"))).alias("n_words"))
    q = w.groupBy("lang").agg(
        F.expr(
            f"percentile_approx(n_words, array(0.5D, 0.9D, 0.99D), {QUANTILE_ACCURACY})"
        ).alias("qs")
    )
    return q.select(
        "lang",
        F.col("qs")[0].cast("bigint").alias("p50_words"),
        F.col("qs")[1].cast("bigint").alias("p90_words"),
        F.col("qs")[2].cast("bigint").alias("p99_words"),
    )


@register(
    "text_fingerprints",
    oracle=f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws, text FROM documents)
SELECT doc_id,
       md5(lower(trim(text))) AS content_fp,
       md5(array_to_string(list_sort(list_distinct(ws)), chr(1))) AS lexical_fp
FROM w
WHERE doc_id % 10 = 0
""",
)
def q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: exact + order-insensitive lexical document fingerprints."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return fingerprints(docs)


def repetition_scores(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals: the duplicate
    fraction of words, word 2-grams, and word 3-grams, plus the keep gate
    a training pipeline applies (repetitious boilerplate and generated
    spam score high). Pure map-side Catalyst — array windows +
    array_distinct per row, no shuffle, no UDF.

    Reference scope: out of the reference's surface entirely (its text
    handling is the taxon-tag parser, parse_utils.py); this is part of
    the X5 LLM-data-pipeline extension alongside quality_scores.
    """
    w = words(F.col(text_col))

    def grams(n: int):
        return F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def dup_frac(arr):
        return F.when(
            F.size(arr) > 0,
            F.round(F.lit(1.0) - F.size(F.array_distinct(arr)) / F.size(arr), 9),
        ).otherwise(F.lit(0.0))

    return df.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_words"),
        dup_frac(w).alias("dup_word_frac"),
        dup_frac(grams(2)).alias("dup_2gram_frac"),
        dup_frac(grams(3)).alias("dup_3gram_frac"),
    ).withColumn(
        "keep_repetition",
        (F.col("dup_word_frac") <= 0.7) & (F.col("dup_3gram_frac") <= 0.3),
    )


@register(
    "text_repetition",
    oracle=f"""
WITH base AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
w AS (
    SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS d_words
    FROM base
),
g2 AS (
    SELECT b.doc_id, count(*) AS n,
           count(DISTINCT array_to_string(ws[i:i+1], ' ')) AS d
    FROM base b, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS u(i)
    GROUP BY b.doc_id
),
g3 AS (
    SELECT b.doc_id, count(*) AS n,
           count(DISTINCT array_to_string(ws[i:i+2], ' ')) AS d
    FROM base b, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    GROUP BY b.doc_id
)
SELECT w.doc_id,
       w.n_words::BIGINT AS n_words,
       CASE WHEN w.n_words > 0
            THEN round(1.0 - w.d_words * 1.0 / w.n_words, 9) ELSE 0.0
       END AS dup_word_frac,
       coalesce(round(1.0 - g2.d * 1.0 / g2.n, 9), 0.0) AS dup_2gram_frac,
       coalesce(round(1.0 - g3.d * 1.0 / g3.n, 9), 0.0) AS dup_3gram_frac,
       (CASE WHEN w.n_words > 0
             THEN round(1.0 - w.d_words * 1.0 / w.n_words, 9) ELSE 0.0 END) <= 0.7
       AND coalesce(round(1.0 - g3.d * 1.0 / g3.n, 9), 0.0) <= 0.3
           AS keep_repetition
FROM w
LEFT JOIN g2 ON g2.doc_id = w.doc_id
LEFT JOIN g3 ON g3.doc_id = w.doc_id
""",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: within-document repetition fractions (words, 2-grams,
    3-grams) and the Gopher-style repetition keep gate."""
    return repetition_scores(load_table(spark, sf_dir, "documents"))


#: Token budget per packed training batch for the packing gate.
PACK_BUDGET = 512

#: doc_id range width of one prefix-sum block. ``floor(doc_id / width)``
#: is monotone in doc_id, so blocks tile the per-language order; each block
#: is an independent window partition. At web scale this is the
#: parallelism knob: tasks per language = id_range / width.
PACK_BLOCK_WIDTH = 256


def pack_batches(
    df: DataFrame,
    *,
    budget: int = PACK_BUDGET,
    block_width: int = PACK_BLOCK_WIDTH,
    text_col: str = "text",
) -> DataFrame:
    """Token-budget batch packing — the contiguous approximation of
    training sequence packing: within each language, documents are taken
    in doc_id order and assigned to batches by cumulative token count, a
    new batch starting whenever the running total crosses the budget
    (``batch_id = floor((cumsum - n_tokens) / budget)`` — a doc lands in
    the batch its PREFIX sum selects, so one oversized doc occupies its
    own batch instead of shifting every successor).

    The prefix sum is the classic TWO-PASS distributed scan, never a
    per-language single-partition window (language is wildly skewed — 90%+
    of a real crawl is one language, which would funnel the corpus through
    one task):

    1. blocks: ``block = floor(doc_id / block_width)`` — order-preserving
       within language, so (lang, block) windows tile the global order;
       pass 1 computes the running sum WITHIN each (lang, block) in
       parallel across all blocks;
    2. pass 2 computes per-block totals (a map-side-combinable groupBy)
       and turns them into exclusive per-block offsets with a window over
       the BLOCK-TOTALS table — one row per (lang, block), i.e.
       ``n_docs / block_width`` rows total, O(corpus / width) not
       O(corpus);
    3. offsets join back on (lang, block) — an equi-join AQE sizes
       (broadcast while the block table is small, word-keyed shuffle
       otherwise; no forced hint).

    ``global_cumsum = block_offset + local_cumsum`` exactly, so the result
    is byte-identical to the single-window formulation (and to the SQL
    oracle, which uses the naive window — DuckDB's scale is not at issue).
    True bin-packing is NP-hard and order-sensitive; contiguous-in-id
    packing is the deterministic, shuffle-minimal form used at data scale.
    """
    from pyspark.sql import Window

    toks = F.size(
        F.regexp_extract_all(text_col, F.lit(TOKEN_REGEX), F.lit(0))
    ).cast("bigint")
    base = df.select(
        "doc_id",
        "lang",
        toks.alias("n_tokens"),
        F.floor(F.col("doc_id") / block_width).cast("bigint").alias("_block"),
    )
    w_local = Window.partitionBy("lang", "_block").orderBy("doc_id")
    local = base.withColumn("_local_cum", F.sum("n_tokens").over(w_local))
    totals = base.groupBy("lang", "_block").agg(F.sum("n_tokens").alias("_bt"))
    w_blocks = Window.partitionBy("lang").orderBy("_block")
    offsets = totals.select(
        "lang",
        "_block",
        (F.sum("_bt").over(w_blocks) - F.col("_bt")).alias("_off"),
    )
    return (
        local.join(offsets, ["lang", "_block"])
        .withColumn(
            "batch_id",
            F.floor(
                (F.col("_off") + F.col("_local_cum") - F.col("n_tokens")) / budget
            ).cast("bigint"),
        )
        .select("doc_id", "lang", "n_tokens", "batch_id")
    )


def pack_oracle_sql(budget: int = PACK_BUDGET) -> str:
    """SQL twin of pack_batches (naive single-window prefix sum; DuckDB's
    scale is not at issue) — parameterized on the token budget only:
    block_width is an internal parallelism knob that must NOT change the
    result, which is exactly what the param-fuzz gate checks by sweeping
    it independently against this oracle."""
    return f"""
SELECT doc_id, lang,
       len(regexp_extract_all(text, '{TOKEN_REGEX}'))::BIGINT AS n_tokens,
       floor((sum(len(regexp_extract_all(text, '{TOKEN_REGEX}')))
                  OVER (PARTITION BY lang ORDER BY doc_id)
              - len(regexp_extract_all(text, '{TOKEN_REGEX}'))) * 1.0
             / {budget})::BIGINT AS batch_id
FROM documents
"""


@register("documents_pack_batches", oracle=pack_oracle_sql())
def q_documents_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: per-language token-budget batch packing (prefix-sum batch
    assignment) — deterministic sequence-packing approximation."""
    return pack_batches(load_table(spark, sf_dir, "documents"))


#: Per-source sampling rates for the mixture-sampling gate: the "data
#: mixing" step of a training pipeline (upweight curated sources,
#: downsample crawl). Percentages over a 0-99 md5 bucket keep the
#: cross-engine arithmetic exact.
MIXTURE_RATES = {"src0": 100, "src1": 50, "src2": 25, "src3": 10}
MIXTURE_DEFAULT_RATE = 5


def stratified_sample(
    df: DataFrame,
    rates: "dict[str, int]" = MIXTURE_RATES,
    default_rate: int = MIXTURE_DEFAULT_RATE,
    *,
    key_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-source mixture sampling: keep a document iff its
    content-independent md5 id bucket (0-99) falls under its source's
    rate. The same hash-assignment argument as documents_train_split:
    position-based or RNG sampling changes membership under corpus
    growth, re-partitioning, or re-runs; hash-bucket sampling never does
    (and composes with the split — a doc's split and sample fates are
    independent md5 prefixes). Map-side only: the rate table is a
    CASE expression, no join, no shuffle.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 9, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = F.lit(default_rate)
    for src, r in sorted(rates.items()):
        rate = F.when(F.col(key_col) == src, F.lit(r)).otherwise(rate)
    return df.withColumn("_bucket", bucket).filter(F.col("_bucket") < rate).drop(
        "_bucket"
    )


@register(
    "documents_mixture_sample",
    oracle=f"""
WITH sampled AS (
    SELECT source, doc_id FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 9, 8))::BIGINT % 100 <
          CASE source
              {" ".join(f"WHEN '{s}' THEN {r}" for s, r in sorted(MIXTURE_RATES.items()))}
              ELSE {MIXTURE_DEFAULT_RATE} END
)
SELECT source, count(*)::BIGINT AS n_docs, min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM sampled GROUP BY source
""",
)
def q_documents_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: deterministic per-source mixture sampling (hash-bucket
    rates per source, map-side CASE — no join/shuffle), reported as
    per-source counts + id ranges. Uses md5 chars 9-16 so sample fate is
    independent of the split gate's chars 1-8."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


#: PII scrub patterns: a conservative, cross-engine (Java regex / RE2)
#: subset — no lookaround, no backrefs. Order matters (passes run
#: sequentially); each pattern maps to its replacement tag.
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{16}\b", "<CARD>"),
    (r"\+\d{9,15}\b", "<PHONE>"),
)


def pii_redact(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """PII scrubbing — the redaction pass an LLM data pipeline runs
    before training: emails, IPv4 addresses, 16-digit card numbers, and
    international phone numbers replaced by typed tags, with a per-doc
    redaction count. Pure map-side ``regexp_replace`` chains inside
    whole-stage codegen — no shuffle, no UDF; at 100 TB this runs at
    scan speed. Real deployments swap in richer pattern sets (and an
    NER model via mapInPandas for names); the mechanism — sequential
    anchored regex passes with counted matches — is the same."""
    clean = F.col(text_col)
    n = F.lit(0).cast("bigint")
    for pat, tag in PII_PATTERNS:
        n = n + F.size(F.regexp_extract_all(clean, F.lit(pat), F.lit(0)))
        clean = F.regexp_replace(clean, pat, tag)
    return df.select(
        "doc_id",
        n.alias("n_redactions"),
        clean.alias("clean_text"),
    )


#: Deterministic planted PII rows for the gate: the fixture corpus is
#: synthetic tokens with no PII, so the gate unions rows that exercise
#: every pattern (and one overlap case: an email whose domain looks like
#: an IP must be consumed by the earlier email pass).
_PII_FIXTURE_ROWS = (
    (900001, "contact alice.smith+spam@example.co.uk for details"),
    (900002, "server at 10.0.255.7 and card 4111111111111111 leaked"),
    (900003, "call +14155550123 or mail bob@10.0.0.1.example.com now"),
    (900004, "clean row with no pii at all"),
)


@register(
    "documents_pii_redact",
    oracle=f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT * FROM (VALUES
        {", ".join(f"({i}, '{t}')" for i, t in _PII_FIXTURE_ROWS)}
    ) AS v(doc_id, text)
),
p0 AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '{PII_PATTERNS[0][0]}'))::BIGINT AS n0,
           regexp_replace(text, '{PII_PATTERNS[0][0]}', '{PII_PATTERNS[0][1]}', 'g') AS t
    FROM corpus
),
p1 AS (
    SELECT doc_id, n0,
           len(regexp_extract_all(t, '{PII_PATTERNS[1][0]}'))::BIGINT AS n1,
           regexp_replace(t, '{PII_PATTERNS[1][0]}', '{PII_PATTERNS[1][1]}', 'g') AS t
    FROM p0
),
p2 AS (
    SELECT doc_id, n0, n1,
           len(regexp_extract_all(t, '{PII_PATTERNS[2][0]}'))::BIGINT AS n2,
           regexp_replace(t, '{PII_PATTERNS[2][0]}', '{PII_PATTERNS[2][1]}', 'g') AS t
    FROM p1
),
p3 AS (
    SELECT doc_id, n0, n1, n2,
           len(regexp_extract_all(t, '{PII_PATTERNS[3][0]}'))::BIGINT AS n3,
           regexp_replace(t, '{PII_PATTERNS[3][0]}', '{PII_PATTERNS[3][1]}', 'g') AS t
    FROM p2
)
SELECT doc_id, (n0 + n1 + n2 + n3)::BIGINT AS n_redactions, t AS clean_text
FROM p3
""",
)
def q_documents_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: PII redaction over the corpus plus planted rows exercising
    every pattern (emails, IPv4, card numbers, intl phone numbers) —
    sequential map-side regex passes with counted matches; pattern order
    resolves overlaps deterministically in both engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = spark.createDataFrame(
        list(_PII_FIXTURE_ROWS), "doc_id long, text string"
    )
    return pii_redact(docs.unionByName(planted))


def ngram_novelty(
    df: DataFrame, *, n: int = 3, text_col: str = "text", max_novel_frac: float = 0.5
) -> DataFrame:
    """N-gram novelty filter — the integer-exact core of a CCNet-style
    LM-perplexity quality gate: score each document by the fraction of
    its word trigrams NOT present in a model "trained" on the md5 train
    split (documents_train_split's bucket < 80). Train-split docs score
    ~0 by construction; held-out docs score their true distributional
    novelty. A full KenLM swap-in changes the lookup table, not the
    dataflow.

    Integer counts + one rational rounding — no cross-row float
    summation, so Spark and the SQL oracle agree bit-for-bit (float
    sums reduce in engine-specific order; fractions of counts don't).

    Scale shape: the model is a DISTINCT n-gram table (one shuffle keyed
    on the n-gram); scoring is a left-anti join on the same key; per-doc
    rollup is a doc_id-keyed count. Nothing all-pairs, nothing skewed
    beyond true n-gram multiplicity.
    """
    toks = words(F.col(text_col))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_grams = df.select("doc_id", F.explode(grams).alias("gram"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    train_ids = df.select("doc_id").filter(bucket < 80)
    model = (
        with_grams.join(train_ids, "doc_id", "left_semi").select("gram").distinct()
    )
    unseen = (
        with_grams.join(model, "gram", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_unseen"))
    )
    totals = with_grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        df.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(unseen, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_unseen", F.lit(0)).cast("bigint").alias("n_unseen"),
        )
        .withColumn(
            "novelty",
            F.when(
                F.col("n_grams") > 0,
                F.round(F.col("n_unseen") / F.col("n_grams"), 9),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("keep_novelty", F.col("novelty") <= max_novel_frac)
    )


@register(
    "text_ngram_novelty",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
grams AS (
    SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
    FROM toks, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
),
train_ids AS (
    SELECT doc_id FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 80
),
model AS (
    SELECT DISTINCT gram FROM grams JOIN train_ids USING (doc_id)
),
unseen AS (
    SELECT g.doc_id, count(*) AS n_unseen
    FROM grams g LEFT JOIN model m USING (gram)
    WHERE m.gram IS NULL GROUP BY g.doc_id
),
totals AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(t.n_grams, 0)::BIGINT AS n_grams,
       coalesce(u.n_unseen, 0)::BIGINT AS n_unseen,
       CASE WHEN coalesce(t.n_grams, 0) > 0
            THEN round(coalesce(u.n_unseen, 0) * 1.0 / t.n_grams, 9)
            ELSE 0.0 END AS novelty,
       CASE WHEN coalesce(t.n_grams, 0) > 0
            THEN round(coalesce(u.n_unseen, 0) * 1.0 / t.n_grams, 9)
            ELSE 0.0 END <= 0.5 AS keep_novelty
FROM documents d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN unseen u USING (doc_id)
""",
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: trigram-novelty quality gate — every doc scored by the
    fraction of its trigrams unseen in the md5-train-split model;
    train-bucket docs score 0 by construction, held-out docs their true
    novelty. Integer-exact (no cross-row float sums)."""
    return ngram_novelty(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Hashed-ngram LM quality score (CCNet/KenLM-style, X5)
# ---------------------------------------------------------------------------

#: Hash-bucket count for the LM's n-gram tables — the KenLM trick that
#: bounds model memory at corpus scale: counts key on md5-bucketed gram
#: hashes (collisions merge counts identically in both engines), so the
#: model is <= 2 * LM_HASH_BUCKETS rows no matter how big the corpus is —
#: broadcastable, map-side lookup.
LM_HASH_BUCKETS = 1 << 20

#: Keep gate: average negative log10 bigram probability per document.
#: Fixture distribution at sf0.01: p10=1.458, median=1.480, p90=1.503,
#: max=1.602 — 1.52 drops the high-perplexity tail (~8%).
LM_KEEP_MAX_NLP = 1.52

#: Fixed-point quantization for per-gram log-probs: each term becomes
#: floor(log10(p) * LM_LP_SCALE) BEFORE any cross-row aggregation, so the
#: per-document sum is an exact BIGINT reduction — order-independent in
#: both engines (cross-row DOUBLE sums reduce in engine-specific order,
#: the parity hazard the convention bans).
LM_LP_SCALE = 1_000_000


def _gram_hash(col: Column) -> Column:
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
        % LM_HASH_BUCKETS
    )


def lm_score(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Hashed-bigram LM quality score (the public CCNet method: score
    documents by LM perplexity under a model trained on trusted text,
    keep the low-perplexity mass; KenLM is the usual scorer). The model
    here is add-one-smoothed bigrams counted over the md5 train split
    (documents_train_split's bucket < 80) with hashed count tables:

        P(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)

    where counts key on md5-hash buckets (LM_HASH_BUCKETS) and V is the
    distinct-context-bucket count. Per-doc score = mean negative log10
    bigram probability; keep gate at LM_KEEP_MAX_NLP.

    Exactness: each gram's log-prob is quantized to an integer
    (floor(log10(p) * LM_LP_SCALE)) BEFORE summation — the rollup is an
    exact integer sum, so Spark and the DuckDB oracle agree bit-for-bit
    (same rational inputs to log10; floor tolerates sub-1e-6 libm ULP
    differences everywhere except exact integer boundaries, which the
    fixture verifies empty).

    Scale shape: both count tables are bounded by the hash-bucket count
    (broadcastable at any corpus size — the KenLM memory bound); scoring
    is two model-sized equi-joins plus a doc_id-keyed integer rollup.
    Swapping in a real KenLM changes the lookup table, not the dataflow.
    """
    toks = words(F.col(text_col))
    gram_structs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.concat_ws(" ", F.slice(toks, i, 2)).alias("gram"),
                F.element_at(toks, i).alias("ctx"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<gram:string,ctx:string>>"))
    grams = df.select("doc_id", F.explode(gram_structs).alias("g")).select(
        "doc_id", F.col("g.gram").alias("gram"), F.col("g.ctx").alias("ctx")
    )
    unis = df.select("doc_id", F.explode(toks).alias("w"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    train_ids = df.select("doc_id").filter(bucket < 80)
    c2 = (
        grams.join(train_ids, "doc_id", "left_semi")
        .groupBy(_gram_hash(F.col("gram")).alias("h2"))
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = (
        unis.join(train_ids, "doc_id", "left_semi")
        .groupBy(_gram_hash(F.col("w")).alias("h1"))
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    v = c1.agg(F.count(F.lit(1)).alias("nv"))
    scored = (
        grams.withColumn("h2", _gram_hash(F.col("gram")))
        .withColumn("h1", _gram_hash(F.col("ctx")))
        .join(c2, "h2", "left")
        .join(c1, "h1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.floor(
                F.log10(
                    (F.coalesce("c2", F.lit(0)) + 1)
                    / (F.coalesce("c1", F.lit(0)) + F.col("nv"))
                )
                * LM_LP_SCALE
            )
            .cast("bigint")
            .alias("lpq"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"), F.sum("lpq").alias("lp_sum")
    )
    return (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("lp_sum", F.lit(0)).cast("bigint").alias("lp_sum"),
        )
        .withColumn(
            "nlp",
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    -F.col("lp_sum") / (F.lit(LM_LP_SCALE) * F.col("n_grams")), 6
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("keep_lm", F.col("nlp") <= LM_KEEP_MAX_NLP)
    )


@register(
    "text_lm_score",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
grams AS (
    SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram, ws[i] AS ctx
    FROM toks, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS u(i)
),
unis AS (SELECT doc_id, unnest(ws) AS w FROM toks),
train_ids AS (
    SELECT doc_id FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 80
),
c2 AS (
    SELECT ('0x'||substr(md5(gram),1,8))::BIGINT % {LM_HASH_BUCKETS} AS h2,
           count(*) AS c2
    FROM grams JOIN train_ids USING (doc_id) GROUP BY 1
),
c1 AS (
    SELECT ('0x'||substr(md5(w),1,8))::BIGINT % {LM_HASH_BUCKETS} AS h1,
           count(*) AS c1
    FROM unis JOIN train_ids USING (doc_id) GROUP BY 1
),
v AS (SELECT count(*) AS nv FROM c1),
scored AS (
    SELECT g.doc_id,
           floor(log10((coalesce(c2.c2, 0) + 1) * 1.0
                       / (coalesce(c1.c1, 0) + v.nv)) * {LM_LP_SCALE})::BIGINT AS lpq
    FROM grams g
    LEFT JOIN c2 ON c2.h2 = ('0x'||substr(md5(g.gram),1,8))::BIGINT % {LM_HASH_BUCKETS}
    LEFT JOIN c1 ON c1.h1 = ('0x'||substr(md5(g.ctx),1,8))::BIGINT % {LM_HASH_BUCKETS}
    CROSS JOIN v
),
per_doc AS (SELECT doc_id, count(*) AS n_grams, sum(lpq) AS lp_sum FROM scored GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(p.n_grams, 0)::BIGINT AS n_grams,
       coalesce(p.lp_sum, 0)::BIGINT AS lp_sum,
       CASE WHEN coalesce(p.n_grams, 0) > 0
            THEN round(-p.lp_sum * 1.0 / ({LM_LP_SCALE} * p.n_grams), 6)
            ELSE 0.0 END AS nlp,
       CASE WHEN coalesce(p.n_grams, 0) > 0
            THEN round(-p.lp_sum * 1.0 / ({LM_LP_SCALE} * p.n_grams), 6)
            ELSE 0.0 END <= {LM_KEEP_MAX_NLP} AS keep_lm
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
""",
)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: hashed-bigram LM perplexity score (CCNet-style quality
    gate) — every doc scored by its mean negative log10 bigram
    probability under an add-one-smoothed model counted over the
    md5-train-split with hash-bucketed (memory-bounded, broadcastable)
    count tables; integer-quantized log-probs keep the rollup exact."""
    return lm_score(load_table(spark, sf_dir, "documents"))


#: Four-language stopword lists for the MULTI-language ID gate (the
#: two-language gate keeps its original contract). Deterministic argmax
#: with ties broken by language code order.
STOPWORDS_MULTI = {
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "für"),
    "en": STOPWORDS["en"],
    "es": STOPWORDS["es"],
    "fr": ("le", "la", "les", "et", "est", "une", "pas", "pour", "dans", "que"),
}


def language_id_multi(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID over four languages: per-language
    distinct-token intersection counts, argmax with 'und' when nothing
    hits and ties broken by language-code order — one map-side pass, the
    hit arrays inlined as literals (a real deployment broadcasts larger
    lists; the plan shape is identical)."""
    distinct_words = F.array_distinct(words(F.lower(F.col(text_col))))
    hits = {
        lang: F.size(F.array_intersect(distinct_words, lit_array(wl)))
        for lang, wl in STOPWORDS_MULTI.items()
    }
    langs = sorted(STOPWORDS_MULTI)  # tiebreak order
    best = F.greatest(*[hits[lg] for lg in langs])
    predicted = F.when(best == 0, F.lit("und"))
    for lg in langs:
        predicted = predicted.when(hits[lg] == best, F.lit(lg))
    cols = [F.col("doc_id"), F.col("lang").alias("labeled_lang")]
    cols += [hits[lg].cast("bigint").alias(f"{lg}_hits") for lg in langs]
    cols.append(predicted.alias("predicted_lang"))
    return df.select(*cols)


def _hits_sql(wl) -> str:
    lits = ", ".join(f"'{w}'" for w in wl)
    return (
        "len(list_intersect(list_distinct(list_filter("
        "string_split(lower(text), ' '), w -> w != '')), [" + lits + "]))"
    )


@register(
    "text_language_id_multi",
    oracle=f"""
WITH h AS (
    SELECT doc_id, lang AS labeled_lang,
           {", ".join(f"{_hits_sql(wl)} AS {lg}_hits" for lg, wl in sorted(STOPWORDS_MULTI.items()))}
    FROM documents
)
SELECT doc_id, labeled_lang,
       {", ".join(f"{lg}_hits::BIGINT AS {lg}_hits" for lg in sorted(STOPWORDS_MULTI))},
       CASE WHEN greatest({", ".join(f"{lg}_hits" for lg in sorted(STOPWORDS_MULTI))}) = 0 THEN 'und'
            {" ".join(f"WHEN {lg}_hits = greatest({', '.join(f'{l2}_hits' for l2 in sorted(STOPWORDS_MULTI))}) THEN '{lg}'" for lg in sorted(STOPWORDS_MULTI))}
       END AS predicted_lang
FROM h
""",
)
def q_text_language_id_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: four-language stopword language ID (de/en/es/fr) with
    deterministic argmax and language-code tiebreak — the fixture's
    actual language mix, scored in one map-side pass."""
    return language_id_multi(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Inverted index + conjunctive keyword search (X5, IR path)
# ---------------------------------------------------------------------------


def inverted_index(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Token -> posting-list inverted index over a document table:
    ``(token, df_count, postings)`` with postings the SORTED doc-id list.
    The standard IR secondary index as one explode + grouped aggregation;
    at 100 TB the posting lists land bucketed by token (write-side
    ``bucketBy``), so keyword lookups prune to one bucket. Skew note:
    stopword-grade tokens produce long postings — the aggregation is a
    count+collect keyed on the token, group size = true document
    frequency, never all-pairs."""
    toks = df.select(
        "doc_id", F.explode(F.array_distinct(words(F.col(text_col)))).alias("token")
    )
    return toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_count"),
        F.array_sort(F.collect_list("doc_id")).alias("postings"),
    )


@register(
    "documents_inverted_index",
    oracle=f"""
WITH toks AS (
    SELECT DISTINCT doc_id, unnest({_WORDS_SQL}) AS token FROM documents
)
SELECT token, count(*)::BIGINT AS df_count,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM toks GROUP BY token
HAVING count(*) >= 50
""",
)
def q_documents_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: the inverted index restricted to tokens with document
    frequency >= 50 (the head of the vocabulary — keeps the gated result
    meaningfully sized while the full index is the same plan without the
    HAVING). Postings are serialized to a comma-joined string so every
    registered-query output column is scalar (the driver's canonicalizer
    can't hash array cells); the reusable ``inverted_index`` operator
    keeps the typed array."""
    docs = load_table(spark, sf_dir, "documents")
    idx = inverted_index(docs).filter(F.col("df_count") >= 50)
    return idx.select(
        "token",
        "df_count",
        F.array_join(
            F.transform("postings", lambda d: d.cast("string")), ","
        ).alias("postings"),
    )


@register(
    "documents_keyword_search",
    oracle=f"""
WITH toks AS (
    SELECT DISTINCT doc_id, unnest({_WORDS_SQL}) AS token FROM documents
),
hits AS (
    SELECT doc_id, count(*) AS n
    FROM toks WHERE token IN ('scan', 'merge')
    GROUP BY doc_id HAVING count(*) = 2
)
SELECT d.doc_id, d.lang FROM documents d JOIN hits USING (doc_id)
""",
)
def q_documents_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: conjunctive keyword search ('scan' AND 'merge') answered
    the INDEX way — probe the token postings and intersect by counting
    per-doc term hits — rather than scanning every document's full text.
    On the bucketed index layout this touches exactly two token buckets;
    the per-doc HAVING count = k intersection is the classic posting-list
    AND."""
    docs = load_table(spark, sf_dir, "documents")
    terms = ["scan", "merge"]
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(words(F.col("text")))).alias("token")
    )
    hits = (
        toks.filter(F.col("token").isin(terms))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") == len(terms))
    )
    return docs.join(hits.select("doc_id"), "doc_id").select("doc_id", "lang")


@register(
    "documents_stratified_sample",
    oracle="""
WITH ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id
           ) AS sample_rank
    FROM documents
)
SELECT doc_id, lang, sample_rank::BIGINT AS sample_rank
FROM ranked WHERE sample_rank <= 20
""",
)
def q_documents_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: EXACT-size stratified sampling — exactly 20 docs per
    language, chosen by md5 rank (deterministic, growth-stable: a doc's
    hash never changes, so regrown corpora keep overlapping samples,
    unlike fraction-based sample()). The per-stratum window is
    WindowGroupLimit-pruned (top-k per group, no full sort materialized);
    at extreme stratum sizes the scale form prefilters on a hash bucket
    (md5 % B < threshold) so the window only ranks a few-x oversample —
    same mechanism as documents_mixture_sample's rate gates."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= 20)
    )


# ---------------------------------------------------------------------------
# X5: sliding-window document chunking (context-window packing precursor)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def chunk_documents(
    df: DataFrame,
    *,
    width: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
    text_col: str = "text",
) -> DataFrame:
    """Split every document into overlapping token-window chunks — the
    standard precursor to embedding/context-window pipelines (stride <
    width keeps ``width - stride`` tokens of overlap so no boundary
    context is lost). Chunk starts are 0, stride, 2*stride, ... while
    inside the document; the final chunk clamps at the document end.

    Returns (doc_id, chunk_idx, start_token, chunk_tokens, chunk_text).

    Scale shape: zero shuffles — tokenize, explode the start offsets, and
    slice, all map-side inside one WholeStageCodegen scan; output row
    count is tokens/stride per document (bounded fan-out, never
    quadratic). Token rule is the module's whitespace ``words()`` so the
    chunk text round-trips exactly in both engines."""
    toks = df.select("doc_id", words(F.col(text_col)).alias("t")).filter(
        F.size("t") > 0
    )
    return (
        toks.select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(0), F.size("t") - 1, F.lit(stride))
            ).alias("start_token"),
        )
        .select(
            "doc_id",
            (F.col("start_token") / stride).cast("bigint").alias("chunk_idx"),
            F.col("start_token").cast("bigint").alias("start_token"),
            F.slice("t", F.col("start_token") + 1, F.lit(width)).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "start_token",
            F.size("chunk").cast("bigint").alias("chunk_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


def chunk_oracle_sql(
    width: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> str:
    """SQL twin of chunk_documents for any (width, stride) — the
    generator the param-fuzz gate sweeps; the registered query pins the
    default configuration."""
    return f"""
WITH toks AS (
    SELECT doc_id, {_WORDS_SQL} AS t FROM documents
),
starts AS (
    SELECT doc_id, t, gs.s AS start_token
    FROM toks, LATERAL (
        SELECT unnest(range(0, len(t), {stride})) AS s
    ) gs
    WHERE len(t) > 0
)
SELECT doc_id,
       (start_token // {stride})::BIGINT AS chunk_idx,
       start_token::BIGINT AS start_token,
       len(list_slice(t, start_token + 1, start_token + {width}))::BIGINT
           AS chunk_tokens,
       array_to_string(
           list_slice(t, start_token + 1, start_token + {width}), ' '
       ) AS chunk_text
FROM starts
"""


@register("documents_chunk_overlap", oracle=chunk_oracle_sql())
def q_documents_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: overlapping 32-token chunks at stride 24 over the documents
    corpus — every chunk's text byte-exact against the SQL twin."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs)


#: The phrase for the positional phrase-search gate (8 occurrences over 5
#: fixture docs — one doc matches more than once, so per-doc counting is
#: exercised, not just membership).
PHRASE_TERMS = ("slow", "hash", "batch")


def phrase_search(df: DataFrame, terms: "tuple[str, ...]" = PHRASE_TERMS) -> DataFrame:
    """Positional phrase search: ``(doc_id, n_matches)`` for documents
    containing the exact word sequence ``terms`` — answered the
    POSITIONAL-INDEX way: per-term postings with word positions,
    intersected by (doc_id, offset-shifted position) equi-joins, the
    classic phrase-query plan over an inverted index with positions.

    Scale notes: postings are filtered to the phrase's terms BEFORE any
    join (each term's postings list is the unit of work — same index
    layout as documents_keyword_search); the k-1 joins are all hash
    equi-joins on (doc_id, pos), each no larger than the rarest term's
    postings; nothing rescans raw text after the explode. At index-build
    time the postings table is written bucketed by token so a phrase
    probe touches k token buckets."""
    pos = df.select(
        "doc_id", F.posexplode(words(F.col("text"))).alias("pos", "token")
    )
    first = pos.filter(F.col("token") == terms[0]).select("doc_id", "pos")
    acc = first
    for k, t in enumerate(terms[1:], start=1):
        nxt = pos.filter(F.col("token") == t).select(
            "doc_id", (F.col("pos") - k).alias("pos")
        )
        acc = acc.join(nxt, ["doc_id", "pos"])
    return acc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches")
    )


@register(
    "documents_phrase_search",
    oracle=f"""
WITH t AS (
    SELECT doc_id, {_WORDS_SQL} AS w FROM documents
),
pos AS (
    SELECT doc_id, i AS pos, w[i] AS token
    FROM t, unnest(generate_series(1, len(w))) AS u(i)
)
SELECT p0.doc_id, count(*)::BIGINT AS n_matches
FROM pos p0
JOIN pos p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
JOIN pos p2 ON p2.doc_id = p0.doc_id AND p2.pos = p0.pos + 2
WHERE p0.token = '{PHRASE_TERMS[0]}'
  AND p1.token = '{PHRASE_TERMS[1]}'
  AND p2.token = '{PHRASE_TERMS[2]}'
GROUP BY p0.doc_id
""",
)
def q_documents_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: exact-phrase search ('slow hash batch') via positional
    posting intersection — per-doc match counts."""
    return phrase_search(load_table(spark, sf_dir, "documents"))


#: BM25 constants (the canonical Robertson defaults) and the gate's query.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("scan", "merge")


def bm25_search(
    df: DataFrame,
    terms: "tuple[str, ...]" = BM25_QUERY,
    *,
    top_k: int = 10,
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Scored keyword retrieval: Okapi BM25 over the inverted index for a
    fixed query, top-``top_k`` docs — the ranking layer documents_keyword_search
    (boolean AND) lacks.

    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``;
    ``score = sum_t idf_t * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.

    Scale shape: postings filter to the query's terms BEFORE any join
    (per-term posting lists are the unit of work); per-doc length comes
    from a map-side token count on the SAME pass that builds postings;
    N and avgdl ride one broadcast 1-row aggregate; df per query term is
    a terms-sized aggregate. The only corpus-sized structure is the
    posting explode. Ranking is ORDER BY + LIMIT => TakeOrderedAndProject.
    Float parity: every input to the formula is an exact integer or the
    broadcast avgdl double; identical IEEE expression trees then round-9
    BEFORE the rank, the same ln discipline the TF-IDF gate proved."""
    from pyspark.sql import Window

    toks = df.select("doc_id", words(F.col(text_col)).alias("ws"))
    doclen = toks.select("doc_id", F.size("ws").cast("double").alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    postings = (
        toks.select("doc_id", F.explode("ws").alias("word"))
        .filter(F.col("word").isin(*terms))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = postings.groupBy("word").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        postings.join(F.broadcast(dfreq), "word")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("part"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), 9).alias("score"))
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(top_k)
        .select(
            "doc_id",
            "score",
        )
    )


def bm25_oracle_sql(
    terms: "tuple[str, ...]" = BM25_QUERY,
    *,
    k1: float = BM25_K1,
    b: float = BM25_B,
    top_k: int = 10,
) -> str:
    """SQL twin of bm25_search for a given (terms, k1, b, top_k) — the
    oracle is generated from the same numbers the Spark plan runs, so any
    BM25 configuration is parity-gated identically
    (tests/test_param_fuzz.py sweeps the parameter space)."""
    term_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH toks AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
doclen AS (SELECT doc_id, len(ws)::DOUBLE AS dl FROM toks),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM doclen),
postings AS (
    SELECT doc_id, word, count(*)::DOUBLE AS tf FROM (
        SELECT doc_id, unnest(ws) AS word FROM toks
    ) WHERE word IN ({term_list})
    GROUP BY doc_id, word
),
dfreq AS (SELECT word, count(*)::DOUBLE AS df FROM postings GROUP BY word),
scored AS (
    SELECT p.doc_id,
           round(sum(
               ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * ({k1!r} + 1))
               / (p.tf + {k1!r} * (1.0 - {b!r} + {b!r} * d.dl / s.avgdl))
           ), 9) AS score
    FROM postings p
    JOIN dfreq f USING (word)
    JOIN doclen d USING (doc_id)
    CROSS JOIN stats s
    GROUP BY p.doc_id
)
SELECT doc_id, score FROM scored
ORDER BY score DESC, doc_id LIMIT {top_k}
"""


@register("documents_bm25_search", oracle=bm25_oracle_sql())
def q_documents_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: Okapi BM25 top-10 for the two-term query ('scan',
    'merge') — scored retrieval over posting lists, the ranking layer on
    top of the boolean keyword search."""
    return bm25_search(load_table(spark, sf_dir, "documents"))


@register(
    "text_collocations",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
uni AS (
    SELECT w, count(*)::BIGINT AS c FROM (
        SELECT unnest(ws) AS w FROM toks
    ) GROUP BY w
),
nu AS (SELECT sum(c)::BIGINT AS n_uni FROM uni),
bi AS (
    SELECT ws[i] AS x, ws[i+1] AS y, count(*)::BIGINT AS cxy
    FROM toks, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS u(i)
    GROUP BY 1, 2
),
nb AS (SELECT sum(cxy)::BIGINT AS n_bi FROM bi)
SELECT x, y, cxy,
       round(ln((cxy::DOUBLE * n_uni * n_uni) / (n_bi::DOUBLE * ux.c * uy.c)), 6) AS pmi
FROM bi JOIN uni ux ON ux.w = bi.x
        JOIN uni uy ON uy.w = bi.y
        CROSS JOIN nu CROSS JOIN nb
WHERE cxy >= 5
ORDER BY pmi DESC, x, y LIMIT 20
""",
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: collocation mining — top-20 adjacent bigrams by pointwise
    mutual information, min count 5. PMI assembles from exact integer
    counts (``ln(cxy * Nu^2 / (Nb * cx * cy))`` — one ln of a ratio of
    integers, round-6 before the rank), so the boundary and the ordering
    are engine-independent.

    Scale notes: unigram and bigram counts are word-keyed aggregates with
    map-side combine; both totals ride 1-row broadcasts; the marginal
    joins key on the word (vocabulary-sized, NO forced broadcast — AQE
    decides, same discipline as TF-IDF's dfreq join); top-20 is
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words(F.col("text")).alias("ws"))
    uni = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    nu = uni.agg(F.sum("c").cast("bigint").alias("n_uni"))
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at("ws", i).alias("x"),
                        F.element_at("ws", i + 1).alias("y"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<x:string,y:string>>"))
        ).alias("b")
    ).select("b.x", "b.y")
    bi = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("cxy"))
    nb = bi.agg(F.sum("cxy").cast("bigint").alias("n_bi"))
    ux = uni.select(F.col("w").alias("x"), F.col("c").alias("cx"))
    uy = uni.select(F.col("w").alias("y"), F.col("c").alias("cy"))
    return (
        bi.filter(F.col("cxy") >= 5)
        .join(ux, "x")
        .join(uy, "y")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "x",
            "y",
            "cxy",
            F.round(
                F.log(
                    (F.col("cxy").cast("double") * F.col("n_uni") * F.col("n_uni"))
                    / (F.col("n_bi").cast("double") * F.col("cx") * F.col("cy"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("x").asc(), F.col("y").asc())
        .limit(20)
    )


#: Planted contamination for the unicode-clean gate: decomposed e+acute
#: (NFC-composes to one char), NBSP, zero-width space, BEL control.
_UNICODE_TAINT = " é x​\x07"


def unicode_clean(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Unicode hygiene — the text-normalization pass every LLM corpus gets
    before tokenization: NFC composition (decomposed accents fold to
    their composed forms), zero-width/control characters stripped, NBSP
    mapped to plain space.

    The stage runs as ``mapInArrow``: the strip class, NBSP fold, and
    both length counts are Arrow C++ kernels (RE2
    ``replace_substring_regex``, ``utf8_length``); NFC itself
    stays Python's ``unicodedata`` — pyarrow 16's ``utf8_normalize``
    does NOT compose (measured: 'e'+U+0301 survives form='NFC', so it
    cannot be parity-twinned with unicodedata or DuckDB's
    nfc_normalize) — behind a C-level ``is_normalized`` quick-check
    that skips the per-row call for already-NFC text (the overwhelming
    path on real corpora). NFC has no Catalyst builtin, which is why
    this text stage leaves the JVM at all. Returns (doc_id, clean_text,
    orig_len, clean_len).

    Strip class: zero-width space + C0 controls + DEL, EXCEPT tab (x09),
    newline (x0a) and carriage return (x0d) -- document-structural
    whitespace a hygiene pass must not destroy (ADVICE r7: the earlier
    x00-x1f class silently removed every newline/tab, and the oracle
    mirrored the loss, so the gate could not see it). NUL (x00) is
    stripped here but absent from the oracle's class only because a
    DuckDB VARCHAR cannot contain it -- the parity domain never includes
    one, so the bound difference is unreachable by construction."""
    out_ddl = "doc_id long, clean_text string, orig_len long, clean_len long"
    proj = df.select("doc_id", text_col)

    _STRIP_RE = "[\u200b\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"

    def _clean_arrow(batches):
        import unicodedata

        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            if not rb.num_rows:
                continue
            txt = rb.column(1)
            if isinstance(txt, pa.ChunkedArray):
                txt = txt.combine_chunks()
            # orig_len BEFORE any rewrite; utf8_length counts codepoints.
            orig_len = pc.cast(pc.utf8_length(txt), pa.int64())
            # NFC: quick-check skips the per-row normalize for text that
            # is already composed (C-level, no allocation) — only rows
            # that actually carry decomposed sequences pay the Python
            # call. Nulls pass through as None.
            vals = txt.to_pylist()
            if not all(
                t is None or unicodedata.is_normalized("NFC", t) for t in vals
            ):
                s = pa.array(
                    [
                        None
                        if t is None
                        else (
                            t
                            if unicodedata.is_normalized("NFC", t)
                            else unicodedata.normalize("NFC", t)
                        )
                        for t in vals
                    ],
                    type=pa.string(),
                )
            else:
                s = txt
            # Strip class + NBSP fold as Arrow C++ kernels (RE2 / literal
            # replace).
            s = pc.replace_substring_regex(s, pattern=_STRIP_RE, replacement="")
            s = pc.replace_substring(s, pattern="\u00a0", replacement=" ")
            yield pa.RecordBatch.from_arrays(
                [
                    pc.cast(rb.column(0), pa.int64()),
                    s,
                    orig_len,
                    pc.cast(pc.utf8_length(s), pa.int64()),
                ],
                names=["doc_id", "clean_text", "orig_len", "clean_len"],
            )

    return proj.mapInArrow(_clean_arrow, out_ddl)


@register(
    "documents_unicode_clean",
    oracle="""
WITH tainted AS (
    SELECT doc_id,
           CASE WHEN doc_id % 50 = 0
                THEN text || ' e' || chr(769) || chr(160) || 'x'
                          || chr(8203) || chr(7)
                ELSE text END AS text
    FROM documents
),
cleaned AS (
    SELECT doc_id, text,
           replace(
               regexp_replace(nfc_normalize(text),
                              '[' || chr(8203) || chr(1) || '-' || chr(8)
                                  || chr(11) || chr(12)
                                  || chr(14) || '-' || chr(31)
                                  || chr(127) || ']',
                              '', 'g'),
               chr(160), ' ') AS clean_text
    FROM tainted
)
SELECT doc_id, clean_text,
       length(text)::BIGINT AS orig_len,
       length(clean_text)::BIGINT AS clean_len
FROM cleaned
""",
)
def q_documents_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: unicode normalization over the corpus with deterministic
    contamination planted on every 50th doc (decomposed accent + NBSP +
    zero-width space + BEL) — NFC folds the accent pair to one composed
    char, the strip removes the invisibles, NBSP becomes a space; clean
    docs pass through unchanged. Python's unicodedata and DuckDB's
    nfc_normalize implement the same UAX#15 tables, which the gate
    proves rather than assumes."""
    docs = load_table(spark, sf_dir, "documents")
    tainted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 50 == 0, F.concat(F.col("text"), F.lit(_UNICODE_TAINT))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return unicode_clean(tainted)


@register(
    "text_vocab_health",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, lang, unnest({_WORDS_SQL}) AS w FROM documents
),
counts AS (
    SELECT lang, w, count(*)::BIGINT AS c FROM toks GROUP BY lang, w
)
SELECT lang,
       count(*)::BIGINT AS vocab_size,
       sum(c)::BIGINT AS n_tokens,
       sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax_count,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
           AS hapax_ratio,
       round(count(*) * 1.0 / sum(c), 6) AS type_token_ratio
FROM counts GROUP BY lang
""",
)
def q_text_vocab_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: per-language vocabulary health — vocab size, token count,
    hapax legomena (words seen exactly once) and the hapax / type-token
    ratios that flag OCR noise or boilerplate floods in a crawl slice
    (healthy natural text keeps hapax_ratio near 0.4-0.6; near-zero means
    template spam, near-one means garbage tokens). All ratios are single
    divisions of exact integers, round-6.

    Scale shape: one (lang, word)-keyed count with map-side combine —
    vocabulary-sized, never corpus-sized — then a lang-keyed rollup of
    counts-of-counts."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(words(F.col("text"))).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return counts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias(
            "hapax_count"
        ),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("hapax_ratio"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("type_token_ratio"),
    )


#: Fixed-point scale for JS-divergence terms (quantize-before-sum).
JS_SCALE = 10**9


@register(
    "documents_source_drift",
    oracle=f"""
WITH toks AS (
    SELECT source, unnest({_WORDS_SQL}) AS w FROM documents
),
counts AS (SELECT source, w, count(*)::BIGINT AS c FROM toks GROUP BY source, w),
tot AS (SELECT source, sum(c)::BIGINT AS n FROM counts GROUP BY source),
pairs AS (
    SELECT a.source AS src_a, b.source AS src_b, a.w,
           a.c * 1.0 / ta.n AS p, b.c * 1.0 / tb.n AS q
    FROM counts a
    JOIN counts b ON b.w = a.w AND a.source < b.source
    JOIN tot ta ON ta.source = a.source
    JOIN tot tb ON tb.source = b.source
),
agg AS (
    SELECT src_a, src_b, count(*)::BIGINT AS n_common,
           sum(floor((0.5 * p * ln(2.0 * p / (p + q))
                      + 0.5 * q * ln(2.0 * q / (p + q))) * {JS_SCALE})::BIGINT)
               AS s_js,
           sum(floor(p * {JS_SCALE})::BIGINT) AS s_p,
           sum(floor(q * {JS_SCALE})::BIGINT) AS s_q
    FROM pairs GROUP BY src_a, src_b
)
SELECT src_a, src_b, n_common,
       round((s_js + 0.5 * 0.6931471805599453 * (({JS_SCALE} - s_p) + ({JS_SCALE} - s_q)))
             / {JS_SCALE}.0, 6) AS js_divergence
FROM agg
""",
)
def q_documents_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift QA [Q]: Jensen-Shannon divergence between every pair
    of sources' word distributions — the mixture-monitoring matrix that
    flags a source whose content shifted (scrape change, injected spam)
    before it pollutes a training mix.

    The disjoint-vocabulary mass needs NO anti joins: a word present in
    only one source contributes exactly 0.5*ln2*p, and the total such
    mass is 1 - (shared mass), so the whole matrix computes from the
    INTERSECTION join alone. Every per-word term and probability is
    floor-quantized to a 1e9 integer before its sum (accumulation-order-
    proof), with one closed-form double correction at the end.

    Scale shape: word-keyed count aggregates, then a word-keyed
    self-join restricted to src_a < src_b (hot words bounded by the
    source count, not the corpus), then a (pair)-keyed rollup of
    integers — no stage touches documents twice."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(words(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = counts.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    a = counts.join(tot, "source").select(
        F.col("source").alias("src_a"), "w", (F.col("c") / F.col("n")).alias("p")
    )
    b = counts.join(tot, "source").select(
        F.col("source").alias("src_b"),
        F.col("w").alias("wb"),
        (F.col("c") / F.col("n")).alias("q"),
    )
    pairs = a.join(b, (F.col("w") == F.col("wb")) & (F.col("src_a") < F.col("src_b")))
    js_term = (
        0.5 * F.col("p") * F.log(2.0 * F.col("p") / (F.col("p") + F.col("q")))
        + 0.5 * F.col("q") * F.log(2.0 * F.col("q") / (F.col("p") + F.col("q")))
    )
    agg = pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum(F.floor(js_term * JS_SCALE).cast("bigint")).alias("s_js"),
        F.sum(F.floor(F.col("p") * JS_SCALE).cast("bigint")).alias("s_p"),
        F.sum(F.floor(F.col("q") * JS_SCALE).cast("bigint")).alias("s_q"),
    )
    # ln(2) as a shared literal: two libms can disagree by an ulp on
    # ln(2.0), and this constant multiplies ~1e9-scale integers.
    ln2 = 0.6931471805599453
    return agg.select(
        "src_a",
        "src_b",
        "n_common",
        F.round(
            (
                F.col("s_js")
                + 0.5 * ln2 * ((JS_SCALE - F.col("s_p")) + (JS_SCALE - F.col("s_q")))
            )
            / F.lit(float(JS_SCALE)),
            6,
        ).alias("js_divergence"),
    )


#: Winnowing parameters: k-gram width, window size, and the hash/pos
#: packing base (must exceed any in-document k-gram position).
WINNOW_K = 3
WINNOW_W = 4
WINNOW_POS_BASE = 4096


def winnow_oracle_sql(
    k: int = WINNOW_K, w: int = WINNOW_W, pos_base: int = WINNOW_POS_BASE
) -> str:
    """SQL twin of winnowing_fingerprints for any (k-gram width, window
    size, position packing base) — the generator the param-fuzz gate
    sweeps; the registered query pins the default configuration."""
    return f"""
WITH toks AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
grams AS (
    SELECT doc_id, i AS pos,
           ('0x' || substr(md5(array_to_string(ws[i:i+{k - 1}], ' ')), 1, 5))::BIGINT AS h
    FROM toks, unnest(generate_series(1, greatest(len(ws) - {k - 1}, 0))) AS u(i)
),
keyed AS (
    SELECT doc_id, pos,
           h * {pos_base} + ({pos_base - 1} - pos) AS key,
           max(pos) OVER (PARTITION BY doc_id) AS max_pos
    FROM grams
),
sel AS (
    SELECT DISTINCT doc_id,
           min(key) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS k
    FROM keyed
    WHERE pos <= max_pos - {w - 1}
)
SELECT doc_id,
       ({pos_base - 1} - k % {pos_base})::BIGINT AS sel_pos,
       (k // {pos_base})::BIGINT AS fingerprint
FROM sel
"""


@register("documents_winnowing", oracle=winnow_oracle_sql())
def q_documents_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 [Q]: winnowing fingerprints (Schleimer et al., the MOSS scheme)
    — per document, the guaranteed-coverage fingerprint subset: every
    window of {WINNOW_W} consecutive 3-gram hashes contributes its
    minimum (rightmost on ties), then selections dedupe. Any shared
    substring of length >= w + k - 1 between two documents is GUARANTEED
    to share a fingerprint — the density/recall contract plain sampled
    hashing lacks, and a third fingerprint family next to MinHash (set
    resemblance) and SimHash (distribution similarity).

    The windowed argmin packs (hash asc, pos desc) into ONE bigint
    (h * base + (base-1-pos)) so a plain frame MIN implements the
    rightmost-tie rule identically in both engines — no struct-ordered
    window needed. One explode + one frame window per doc partition;
    fingerprints are constant bytes per document like every other
    signature here."""
    return winnowing_fingerprints(load_table(spark, sf_dir, "documents"))


def winnowing_fingerprints(
    docs: DataFrame,
    *,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    pos_base: int = WINNOW_POS_BASE,
) -> DataFrame:
    """Winnowing fingerprint core over a ``(doc_id, text)`` table — see
    q_documents_winnowing for the scheme. Overflow guard: the packed key
    reserves log2(pos_base) low bits for the position, so a document
    with >= pos_base k-gram positions would make the position term
    collide across hashes and silently corrupt key ordering IN BOTH
    ENGINES — the parity gate cannot catch it (ADVICE r7). The key
    expression embeds an assert_true so such a document fails the job
    loudly instead."""
    toks = docs.select("doc_id", words(F.col("text")).alias("ws"))
    gram_arr = F.when(
        F.size("ws") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice("ws", i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks.select("doc_id", F.posexplode(gram_arr).alias("pos0", "gram")).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5("gram"), 1, 5), 16, 10).cast("bigint").alias("h"),
    )
    win = Window.partitionBy("doc_id")
    overflow_guard = F.coalesce(
        F.assert_true(
            F.col("pos") < pos_base,
            F.concat(
                F.lit("winnowing position overflow: doc_id "),
                F.col("doc_id").cast("string"),
                F.lit(f" has >= {pos_base} k-gram positions; "),
                F.lit("raise the pos_base"),
            ),
        ).cast("bigint"),
        F.lit(0),
    )
    keyed = grams.select(
        "doc_id",
        "pos",
        (
            F.col("h") * pos_base
            + (pos_base - 1 - F.col("pos"))
            + overflow_guard
        ).alias("key"),
        F.max("pos").over(win).alias("max_pos"),
    )
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = (
        keyed.filter(F.col("pos") <= F.col("max_pos") - (w - 1))
        .select("doc_id", F.min("key").over(frame).alias("k"))
        .distinct()
    )
    return sel.select(
        "doc_id",
        (pos_base - 1 - F.col("k") % pos_base).cast("bigint").alias("sel_pos"),
        (F.col("k") / pos_base).cast("bigint").alias("fingerprint"),
    )


#: Hot-fingerprint document-frequency cap and the shared-count floor for
#: the winnowing overlap gate (same skew discipline as MAX_SHINGLE_DF).
WINNOW_MAX_DF = 32
WINNOW_MIN_SHARED = 5


def capped_fingerprints(wn: DataFrame) -> DataFrame:
    """The winnowing-overlap candidate universe: distinct ``(doc_id,
    fingerprint)`` rows with hot fingerprints (document frequency above
    ``WINNOW_MAX_DF``) removed. Factored out of the overlap join so the
    adversarial-skew stress instrument measures the OPERATOR'S real
    post-cap intermediate instead of recomputing the cap itself — see
    dedup.capped_shingles for the tautology this avoids."""
    return fingerprint_postings(wn).select(
        "fingerprint", F.explode("ids").alias("doc_id")
    ).select("doc_id", "fingerprint")


def fingerprint_postings(wn: DataFrame) -> DataFrame:
    """Per-fingerprint posting lists ``(fingerprint, ids)`` with the
    hot-fingerprint cap as a size filter: one fingerprint-keyed exchange
    groups each fingerprint's sorted distinct doc set and applies
    ``WINNOW_MAX_DF`` (same predicate the old aggregate + left-semi join
    enforced over the exploded rows; collect_set also absorbs the
    (doc_id, fingerprint) DISTINCT the overlap query ran as a separate
    exchange). Every list is bounded by the cap, so map-side pair
    expansion is C(cap, 2)-bounded per fingerprint — dedup.shingle_postings
    is the same shape with the same skew argument (guide §2.3/§2.4)."""
    return (
        wn.groupBy("fingerprint")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") <= WINNOW_MAX_DF)
    )


@register(
    "documents_winnowing_overlap",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
grams AS (
    SELECT doc_id, i AS pos,
           ('0x' || substr(md5(array_to_string(ws[i:i+{WINNOW_K - 1}], ' ')), 1, 5))::BIGINT AS h
    FROM toks, unnest(generate_series(1, greatest(len(ws) - {WINNOW_K - 1}, 0))) AS u(i)
),
keyed AS (
    SELECT doc_id, pos,
           h * {WINNOW_POS_BASE} + ({WINNOW_POS_BASE - 1} - pos) AS key,
           max(pos) OVER (PARTITION BY doc_id) AS max_pos
    FROM grams
),
fps AS (
    SELECT DISTINCT doc_id, (k // {WINNOW_POS_BASE})::BIGINT AS fingerprint
    FROM (
        SELECT doc_id,
               min(key) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS k
        FROM keyed
        WHERE pos <= max_pos - {WINNOW_W - 1}
    )
),
kept AS (
    SELECT fingerprint FROM fps GROUP BY fingerprint
    HAVING count(*) <= {WINNOW_MAX_DF}
),
pruned AS (SELECT f.* FROM fps f JOIN kept USING (fingerprint))
SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*)::BIGINT AS n_shared
FROM pruned a JOIN pruned b
  ON b.fingerprint = a.fingerprint AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {WINNOW_MIN_SHARED}
""",
)
def q_documents_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+ [Q]: winnowing-based overlap detection — document pairs
    sharing >= {WINNOW_MIN_SHARED} distinct winnowing fingerprints (the
    MOSS plagiarism-candidate join), completing the
    fingerprint -> detection path for the third fingerprint family.

    Scale shape identical to the exact-Jaccard join: blocking key is the
    fingerprint itself (docs never meet unless they share one), the
    document-frequency cap kills hot-fingerprint quadratic buckets, and
    the per-doc fingerprint count is winnowing's density guarantee
    (~2/(w+1) of positions) — constant bytes per document."""
    # Posting-list form (optimization round 17): the (doc_id, fingerprint)
    # DISTINCT, the cap aggregation + semi-join, and the fingerprint-keyed
    # self-join all collapse into ONE fingerprint-keyed exchange
    # (collect_set dedups positions map-side); a<b pairs expand map-side
    # from each C(WINNOW_MAX_DF, 2)-bounded list and partially aggregate
    # before the pair shuffle. Single linear plan — the old persisted wn
    # fed two consumers (cap agg + semi join), this feeds one, so the
    # persist goes too.
    from ..operators.dedup import _posting_pairs

    wn = q_documents_winnowing(spark, sf_dir).select("doc_id", "fingerprint")
    return (
        fingerprint_postings(wn)
        .select(F.explode(_posting_pairs(F.col("ids"))).alias("pr"))
        .select("pr.a_id", "pr.b_id")
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


@register(
    "text_langid_confusion",
    oracle=f"""
WITH h AS (
    SELECT doc_id, lang AS labeled_lang,
           {", ".join(f"{_hits_sql(wl)} AS {lg}_hits" for lg, wl in sorted(STOPWORDS_MULTI.items()))}
    FROM documents
),
pred AS (
    SELECT labeled_lang,
           CASE WHEN greatest({", ".join(f"{lg}_hits" for lg in sorted(STOPWORDS_MULTI))}) = 0 THEN 'und'
                {" ".join(f"WHEN {lg}_hits = greatest({', '.join(f'{l2}_hits' for l2 in sorted(STOPWORDS_MULTI))}) THEN '{lg}'" for lg in sorted(STOPWORDS_MULTI))}
           END AS predicted_lang
    FROM h
)
SELECT labeled_lang, predicted_lang, count(*)::BIGINT AS n_docs,
       (labeled_lang = predicted_lang) AS agree
FROM pred GROUP BY labeled_lang, predicted_lang
""",
)
def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier QA [Q]: the language-ID confusion matrix — labeled vs
    predicted language counts with an agreement flag, the quality table a
    pipeline monitors before trusting the detector's routing (a rising
    off-diagonal cell is a detector or scrape regression). Pure rollup of
    the gated detector's output — same argmax, same tiebreaks."""
    pred = language_id_multi(load_table(spark, sf_dir, "documents"))
    return (
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(
            "labeled_lang",
            "predicted_lang",
            "n_docs",
            (F.col("labeled_lang") == F.col("predicted_lang")).alias("agree"),
        )
    )
