"""Catalog part 2 — training-data pipeline queries: text analysis,
deduplication, similarity search, Hebrew normalization, cursor alignment.

Registered into the same CATALOG as plans.catalog; split only for file
size. Oracle-portability notes:

- the shared token/char hash is a polynomial over codepoints
  (operators.dedup.HASH_MOD/HASH_BASE) — both engines compute it with
  their own higher-order array functions, no engine-specific hash;
- DuckDB regexps need the 'g' flag to match Spark's replace-all default;
- DuckDB ``/`` on integers is float division (matches Spark), and
  x/0 → NULL (matches try_divide).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hebrew, text, urls
from ..functions.hashing import HASH_BASE, HASH_MOD
from ..sources.readers import spread
from ..operators import alignment, ann, dedup
from ..operators import membership as membership_mod
from ..operators import freqsketch as freqsketch_mod
from ..session import pin, shared
from .catalog import CATALOG, T, _register

HASH_MOD = dedup.HASH_MOD
HASH_BASE = dedup.HASH_BASE

# DuckDB SQL fragment: polynomial codepoint hash of a token expression.
# Same recurrence as operators.dedup.token_hash / functions.text.doc_fingerprint.
def _sql_token_hash(tok_expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({tok_expr}, ''), c -> CAST(greatest(unicode(c), 0) AS BIGINT))), "
        f"(acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD})"
    )


# Second independent chain (dedup.token_hash2): paired with the first to
# form the 62-bit k-gram keys of winnowing / duplicate-span detection.
HASH_MOD2 = dedup.HASH_MOD2
HASH_BASE2 = dedup.HASH_BASE2


def _sql_token_hash2(tok_expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({tok_expr}, ''), c -> CAST(greatest(unicode(c), 0) AS BIGINT))), "
        f"(acc, x) -> (acc * {HASH_BASE2} + x) % {HASH_MOD2})"
    )


_TOKENS_SQL = "regexp_extract_all(text, '\\S+')"


# ===========================================================================
# Text analysis (language-ID, quality, token counts, fingerprint)
# ===========================================================================

_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in text.EN_STOPWORDS)
_EN_MARKERS = "|".join(text.LANG_MARKERS["en"])
_DE_MARKERS = "|".join(text.LANG_MARKERS["de"])
_FR_MARKERS = "|".join(text.LANG_MARKERS["fr"])
_ES_MARKERS = "|".join(text.LANG_MARKERS["es"])


@_register(
    "doc_text_stats",
    oracle=f"""
WITH t AS (
    SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       round(coalesce(
           len(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g'))
           / nullif(len(regexp_replace(text, '\\s', '', 'g')), 0), 0), 6) AS punct_ratio,
       round(coalesce(
           len(list_filter(list_transform(toks, x -> lower(x)),
                           tk -> tk IN ({_STOPWORDS_SQL})))
           / nullif(len(toks), 0), 0), 6) AS stopword_ratio,
       round(coalesce(
           list_sum(list_transform(toks, x -> len(x))) / nullif(len(toks), 0),
           0), 6) AS mean_token_len,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(toks, t2 -> {_sql_token_hash('t2')})),
           (acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD}) AS fingerprint
FROM t
""",
    tags=("text-analysis", "F5", "F18"),
    bench=True,
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + token counting + rolling-hash fingerprint, all
    JVM-side column expressions (training-pipeline requirement)."""
    d = spread(T(spark, sf_dir, "documents"))
    c = F.col("text")
    return d.select(
        "doc_id",
        text.whitespace_token_count(c).alias("n_tokens"),
        text.punct_ratio(c).alias("punct_ratio"),
        text.stopword_ratio(c).alias("stopword_ratio"),
        text.mean_token_len(c).alias("mean_token_len"),
        text.doc_fingerprint(c).alias("fingerprint"),
    )


_CLASSIFIER_D = 1024
_CLASSIFIER_W = text.classifier_weights(_CLASSIFIER_D)


@_register(
    "doc_classifier_scores",
    # The weight table is inlined as one array literal (both engines
    # parse the identical shortest-repr doubles) and the fold visits
    # tokens in array order on both sides, so the weight-sum doubles
    # are bit-identical by construction. All derived outputs are then
    # INTEGER micro-units: the 6 dp weights make wsum*1e6 sit within
    # float noise of an integer (floor(x+0.5) recovers it exactly), and
    # a float mean would land on exact 7-digit ties where the engines'
    # round() implementations legitimately split (found at sf0.001).
    oracle=f"""
WITH w(arr) AS (SELECT [{", ".join(repr(x) for x in _CLASSIFIER_W)}]),
t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
s AS (
    SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(toks,
                   tk -> arr[({_sql_token_hash('tk')} % {_CLASSIFIER_D}) + 1])),
               (acc, x) -> acc + x) * 1000000 + 0.5) AS BIGINT) AS weight_sum_ppm
    FROM t CROSS JOIN w
)
SELECT doc_id, n_tokens, weight_sum_ppm,
       CAST(floor(weight_sum_ppm / n_tokens) AS BIGINT) AS logit_micro,
       weight_sum_ppm >= 0 AS accepted
FROM s
""",
    tags=("quality", "classifier", "text-analysis", "curation"),
)
def doc_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the classifier stage real
    curation pipelines run after the heuristic gates (CCNet's LM +
    fasttext quality classifiers, the wiki-ref classifier of GPT-style
    corpora): a hashed-feature linear model scores every document and
    the score's sign gates acceptance. Scores are integer micro-units
    (weight_sum_ppm; logit_micro = floored mean), never a rounded
    float — see the oracle comment for the tie class this dodges.

    Spark-first shape: the weight table is a BROADCAST-LITERAL array
    (a trained export drops in without changing the plan — the same
    slot discipline as the k-means codebooks), feature hashing and the
    weight-sum fold are one map-only pass over the token array, no
    shuffle, no Python. Scale posture: scoring cost is exactly one
    corpus scan regardless of D; a 10M-bucket table would move from a
    literal to an ``sc.broadcast`` lookup with the same plan."""
    d = spread(T(spark, sf_dir, "documents"))
    wsum = text.hashed_weight_sum(F.col("text"), _CLASSIFIER_W)
    ppm = F.floor(wsum * 1_000_000 + 0.5).cast("long")
    n = text.whitespace_token_count(F.col("text"))
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        ppm.alias("weight_sum_ppm"),
        F.floor(ppm / n).cast("long").alias("logit_micro"),
        (ppm >= 0).alias("accepted"),
    )


@_register(
    "quality_cutoff_calibration",
    # Calibrated per-language quality threshold (the FineWeb/DCLM move:
    # pick the filter cutoff from the corpus score DISTRIBUTION, not a
    # fixed constant). Cutoff = the classifier logit at the ceil(n/5)-th
    # rank per language (the bottom-quintile boundary), defined rank-
    # based over a (lang, logit) HISTOGRAM so no engine ever sorts the
    # corpus: cumulative counts over the per-language histogram find the
    # quantile, and every output is integer (micro-logits, ppm token
    # share) — zero float surface.
    oracle=f"""
WITH w(arr) AS (SELECT [{", ".join(repr(x) for x in _CLASSIFIER_W)}]),
t AS (SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents),
s AS (
    SELECT lang, CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(floor(CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(toks,
                   tk -> arr[({_sql_token_hash('tk')} % {_CLASSIFIER_D}) + 1])),
               (acc, x) -> acc + x) * 1000000 + 0.5) AS BIGINT) / len(toks)) AS BIGINT)
           AS logit_micro
    FROM t CROSS JOIN w
),
h AS (
    SELECT lang, logit_micro, count(*) AS c, sum(n_tokens) AS tok
    FROM s GROUP BY lang, logit_micro
),
l AS (SELECT lang, sum(c) AS n_docs, sum(tok) AS total_tokens FROM h GROUP BY lang),
cum AS (
    SELECT lang, logit_micro, c,
           sum(c) OVER (PARTITION BY lang ORDER BY logit_micro ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
    FROM h
),
cut AS (
    SELECT cum.lang, min(cum.logit_micro) AS cutoff_logit_micro
    FROM cum JOIN l USING (lang)
    WHERE cum.cc >= (l.n_docs + 4) // 5
    GROUP BY cum.lang
),
kept AS (
    SELECT h.lang,
           coalesce(sum(CASE WHEN h.logit_micro > k.cutoff_logit_micro THEN h.c END), 0) AS n_kept,
           coalesce(sum(CASE WHEN h.logit_micro > k.cutoff_logit_micro THEN h.tok END), 0) AS kept_tokens
    FROM h JOIN cut k USING (lang) GROUP BY h.lang
)
SELECT l.lang, CAST(l.n_docs AS BIGINT) AS n_docs, k.cutoff_logit_micro,
       CAST(kp.n_kept AS BIGINT) AS n_kept,
       CAST((kp.kept_tokens * 1000000) // l.total_tokens AS BIGINT) AS kept_token_ppm
FROM l JOIN cut k USING (lang) JOIN kept kp USING (lang)
""",
    tags=("quality", "classifier", "calibration", "curation"),
    bench=True,
)
def quality_cutoff_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-calibrated quality cutoff per language: score every
    doc with the hashed-feature classifier (one map-only pass, identical
    to doc_classifier_scores), histogram scores per (lang, logit_micro),
    and read the bottom-quintile boundary off cumulative counts — the
    exact quantile WITHOUT sorting the corpus. Scale posture: the only
    corpus-sized shuffle is the histogram groupBy (map-side combined,
    key cardinality = distinct logits per language); the cumulative
    window and all joins run on histogram/summary rows, and the
    summaries broadcast. Outputs are all integers (BIGINT micro-logits
    and ppm) — no cross-engine float rounding surface."""
    d = spread(T(spark, sf_dir, "documents"))
    wsum = text.hashed_weight_sum(F.col("text"), _CLASSIFIER_W)
    ppm = F.floor(wsum * 1_000_000 + 0.5).cast("long")
    n = text.whitespace_token_count(F.col("text"))
    s = d.select(
        "lang",
        n.cast("long").alias("n_tokens"),
        F.floor(ppm / n).cast("long").alias("logit_micro"),
    )
    h = s.groupBy("lang", "logit_micro").agg(
        F.count(F.lit(1)).alias("c"), F.sum("n_tokens").alias("tok")
    )
    lsum = h.groupBy("lang").agg(
        F.sum("c").alias("n_docs"), F.sum("tok").alias("total_tokens")
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy(F.col("logit_micro").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.withColumn("cc", F.sum("c").over(wcum))
    cut = (
        cum.join(F.broadcast(lsum), "lang")
        .filter(F.col("cc") >= F.expr("(n_docs + 4) div 5"))
        .groupBy("lang")
        .agg(F.min("logit_micro").alias("cutoff_logit_micro"))
    )
    is_kept = F.col("logit_micro") > F.col("cutoff_logit_micro")
    kept = (
        h.join(F.broadcast(cut), "lang")
        .groupBy("lang")
        .agg(
            F.coalesce(F.sum(F.when(is_kept, F.col("c"))), F.lit(0)).alias("n_kept"),
            F.coalesce(F.sum(F.when(is_kept, F.col("tok"))), F.lit(0)).alias(
                "kept_tokens"
            ),
        )
    )
    return (
        lsum.join(F.broadcast(cut), "lang")
        .join(F.broadcast(kept), "lang")
        .select(
            "lang",
            "n_docs",
            "cutoff_logit_micro",
            "n_kept",
            F.expr("(kept_tokens * 1000000) div total_tokens").alias(
                "kept_token_ppm"
            ),
        )
    )


@_register(
    "doc_lm_perplexity",
    # Two-pass corpus-trained bigram LM, replayed exactly: identical
    # tokenization (_TOKENS_SQL), identical add-one smoothing, per-term
    # nll quantized to INTEGER 1e-8 units so the per-doc mean rides an
    # exact BIGINT sum — cross-engine float-summation order has no
    # surface (8dp-round-then-float-avg flipped 1 ulp at sf0.1).
    oracle=f"""
WITH t AS (
    SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
uc AS (
    SELECT w, count(*) AS c1 FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
),
vv AS (SELECT count(*) AS v FROM uc),
bi AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bg
    FROM t WHERE len(toks) >= 2
),
bc AS (SELECT bg, count(*) AS c2 FROM bi GROUP BY bg),
model AS (
    -- per-term nll as an INTEGER (1e-8 units): the per-doc mean then
    -- rides an exact BIGINT sum, so cross-engine float-summation order
    -- has no surface (round(avg(float8),6) flipped 1 ulp at sf0.1)
    SELECT bg, CAST(floor(-ln((c2 + 1.0) / (c1 + v)) * 100000000 + 0.5)
                AS BIGINT) AS nll_e8
    FROM bc JOIN uc ON split_part(bg, ' ', 1) = w CROSS JOIN vv
)
SELECT doc_id, count(*) AS bigram_ct,
       CAST((2 * sum(nll_e8) + 100 * count(*)) // (200 * count(*)) AS DOUBLE)
       / 1000000.0 AS avg_nll
FROM bi JOIN model USING (bg)
GROUP BY doc_id
""",
    tags=("text-analysis", "quality", "lm", "two-pass"),
    bench=True,
)
def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality scoring (Wenzek et al., "CCNet: Extracting
    high quality monolingual datasets from web crawl data", LREC 2020):
    train an add-one-smoothed bigram LM on the corpus itself, then
    score every document's average negative log-likelihood — high
    ``avg_nll`` ≈ high perplexity ≈ atypical/noisy text, the standard
    pre-training quality filter (a real CCNet swaps in a wiki-trained
    KenLM; the two-pass train/score plan is identical).

    Plan shape / 100 TB posture: pass 1 aggregates unigram + bigram
    counts (two shuffles on token keys, map-side combined); the model
    join (bigram→prefix-unigram) and the scoring join shuffle on the
    same keys — the vocabulary is corpus-sized, so it is NOT broadcast;
    AQE handles stop-word-headed key skew. The vocab-size scalar rides
    a 1-row broadcast crossJoin. Everything stays in JVM codegen — no
    Python, no UDF, no collect."""
    d = spread(T(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        text.whitespace_tokens(F.col("text")).alias("toks"),
        # the bigram pre-filter rides the regexp_count twin, so its
        # pushed-down copy never re-materializes the token array
        text.whitespace_token_count(F.col("text")).alias("_nt"),
    )
    uni_ct = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    vocab = uni_ct.agg(F.count("*").alias("v"))
    bi = toks.filter(F.col("_nt") >= 2).select(
        "doc_id", F.explode(text.word_ngrams(F.col("toks"), 2)).alias("bg")
    )
    big_ct = bi.groupBy("bg").agg(F.count("*").alias("c2"))
    model = (
        big_ct.withColumn("w1", F.element_at(F.split(F.col("bg"), " "), 1))
        .join(uni_ct, F.col("w1") == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.floor(
                -F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
                * F.lit(100000000)
                + F.lit(0.5)
            ).alias("nll_e8"),
        )
    )
    return (
        bi.join(model, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("bigram_ct"),
            F.sum("nll_e8").alias("s_nll"),
        )
        # exact integer half-up division at 6 dp (the r13 sf10
        # round-of-float-quotient boundary class; see avg_after_skip2)
        .select(
            "doc_id",
            "bigram_ct",
            (
                F.expr("(2 * s_nll + 100 * bigram_ct) div (200 * bigram_ct)")
                .cast("double")
                / F.lit(1000000.0)
            ).alias("avg_nll"),
        )
    )


@_register(
    "duplicate_token_spans",
    # Replays the identical pipeline: token hashes, rolled 10-gram
    # polynomial, corpus-wide frequency ≥ 2, then the running-max
    # island merge as two windows + a group.
    oracle=f"""
WITH tk AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
t AS (
    SELECT doc_id,
           list_transform(toks, t2 -> {_sql_token_hash('t2')}) AS th,
           list_transform(toks, t2 -> {_sql_token_hash2('t2')}) AS th2
    FROM tk
),
gi AS (
    SELECT doc_id, unnest(generate_series(1, len(th) - 9)) AS i, th, th2
    FROM t WHERE len(th) >= 10
),
g AS (
    SELECT doc_id, i - 1 AS pos,
           list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+9]),
                       (acc, x) -> (acc * {HASH_BASE2} + x) % {HASH_MOD})
           * {HASH_MOD2}
           + list_reduce(list_prepend(CAST(0 AS BIGINT), th2[i:i+9]),
                         (acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD2}) AS kh
    FROM gi
),
dup AS (SELECT kh FROM g GROUP BY kh HAVING count(*) >= 2),
h AS (SELECT doc_id, pos, pos + 10 AS e FROM g JOIN dup USING (kh)),
m AS (
    SELECT doc_id, pos, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
    FROM h
),
isl AS (
    SELECT doc_id, pos, e,
           sum(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS UNBOUNDED PRECEDING) AS island
    FROM m
)
SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
       max(e) - min(pos) AS span_tokens
FROM isl GROUP BY doc_id, island
""",
    tags=("dedup", "spans", "substring"),
    bench=True,
)
def duplicate_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span detection (Lee et al., ACL 2022): maximal
    per-document spans covered by token 10-grams occurring ≥ 2 times
    corpus-wide — the span-removal tier of the dedup stack (regions,
    not whole documents). Hash-group frequency pass + running-max
    interval merge; see operators.dedup.duplicate_spans."""
    d = spread(T(spark, sf_dir, "documents"))
    out = dedup.duplicate_spans(d, "doc_id", "text", n=10, min_count=2)
    return out.withColumnRenamed("id", "doc_id")


@_register(
    "lang_id_confusion",
    oracle=f"""
WITH scored AS (
    SELECT lang,
           len(regexp_extract_all(lower(text), '\\b({_EN_MARKERS})\\b')) AS s_en,
           len(regexp_extract_all(lower(text), '\\b({_DE_MARKERS})\\b')) AS s_de,
           len(regexp_extract_all(lower(text), '\\b({_FR_MARKERS})\\b')) AS s_fr,
           len(regexp_extract_all(lower(text), '\\b({_ES_MARKERS})\\b')) AS s_es,
           len(text) - len(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) AS s_zh
    FROM documents
), best AS (
    SELECT lang,
           greatest(s_en, s_de, s_fr, s_es, s_zh) AS best_score,
           CASE
             WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
             WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
             WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
             WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
             ELSE 'zh'
           END AS predicted_lang
    FROM scored
)
SELECT lang, predicted_lang, count(*) AS n
FROM best GROUP BY lang, predicted_lang
""",
    tags=("text-analysis", "lang-id"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column — a confusion
    matrix as a grouped count."""
    d = spread(T(spark, sf_dir, "documents"))
    return (
        d.select("lang", text.predict_lang(F.col("text")).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )


# ===========================================================================
# Deduplication
# ===========================================================================

@_register(
    "dedup_exact_keepers",
    oracle="""
SELECT doc_id, digest FROM (
    SELECT doc_id, md5(text) AS digest,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents
) WHERE rn = 1
""",
    tags=("dedup", "exact"),
)
def dedup_exact_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: which rows survive hash-groupBy keep-first."""
    d = T(spark, sf_dir, "documents")
    kept = dedup.exact_dedup(d, ["text"], "doc_id")
    return kept.select("doc_id", F.md5(F.col("text")).alias("digest"))


def _jaccard_oracle(cap_sql: str) -> str:
    """Posting-join Jaccard oracle, parameterized ONLY on the df-cap
    expression so the fractional and least(frac, abs) variants replay
    the identical shingling/join/denominator arithmetic."""
    return f"""
WITH d AS (
    SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
    FROM documents
), g AS (
    -- mirror of ngram_jaccard_pairs' short-doc rule: an empty doc emits
    -- no shingles, a doc shorter than n emits its single joined shingle
    SELECT doc_id,
           CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
                WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                ELSE list_distinct([list_aggr(t[i:i+2], 'string_agg', ' ')
                                    for i in range(1, len(t) - 1)]) END AS toks
    FROM d
), s AS (
    SELECT doc_id, len(toks) AS nsh FROM g
), p0 AS (
    SELECT doc_id, unnest(toks) AS tok FROM g
), f AS (
    SELECT tok, count(*) AS df FROM p0 GROUP BY 1
), p AS (
    SELECT p0.doc_id, p0.tok FROM p0
    JOIN f ON f.tok = p0.tok
          AND f.df <= {cap_sql}
), i AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
    FROM p a JOIN p b ON a.tok = b.tok AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(inter / (sa.nsh + sb.nsh - inter), 6) AS jaccard
FROM i
JOIN s sa ON sa.doc_id = id_a
JOIN s sb ON sb.doc_id = id_b
WHERE round(inter / (sa.nsh + sb.nsh - inter), 6) >= 0.5
"""


@_register(
    "jaccard_token_pairs",
    oracle=_jaccard_oracle("ceil(0.08 * (SELECT count(*) FROM documents))"),
    tags=("dedup", "jaccard"),
    # bench=False (r06 verdict "what's wrong" #4): this is the
    # EXHAUSTIVE TRUTH ARM — it stays in the catalog/correctness gate
    # as the recall baseline for the bounded tiers, but the
    # known-steepest curve in the repo shouldn't consume heavy-tier
    # bench attention; the production tiers (capped, MinHash banding)
    # stay benched.
    bench=False,
)
def jaccard_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-shingle Jaccard near-dup pairs over the FULL corpus via
    the posting-list self-join WITH document-frequency pruning — the
    registered form is the 100 TB form. n=3 (the standard dedup
    shingle) keeps the posting join's Σdf² fan-out bounded even on this
    31-token-vocabulary corpus where uni/bigrams are all stop-shingles
    (bigrams cost 10× the candidates for the identical final pairs);
    the >8%-of-corpus frequency prune caps whatever skew remains. Set
    sizes stay unpruned so Jaccard keeps its exact denominator. The
    oracle applies the identical shingling and fractional cutoff."""
    d = spread(T(spark, sf_dir, "documents"))
    return dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_shingle_freq=0.08
    )


@_register(
    "jaccard_token_pairs_capped",
    # least(frac·N, 30): the absolute arm BINDS at sf0.01 (frac·N = 48),
    # so the driver gate checks the combined-cap semantics, not a no-op.
    oracle=_jaccard_oracle(
        "least(ceil(0.08 * (SELECT count(*) FROM documents)), 30)"
    ),
    tags=("dedup", "jaccard", "scale"),
    bench=True,
)
def jaccard_token_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-TIER posting-join form: fractional df-prune combined
    with an absolute df cap, least(0.08·N, 30). The r06 scale runs
    measured the fractional-only form superlinear (t ∝ n^~1.8 on the
    self-similar x1→x100 family): per-shingle join work is Σ df², and
    every shingle below the fraction has df ∝ n whenever vocabulary
    doesn't grow with the corpus. The absolute cap bounds per-shingle
    work; dropped shingles are the highest-df (least informative) ones,
    and a truly-similar pair still meets on its many low-df shingles —
    the same df-capping practice as published suffix-array/posting dedup
    pipelines (Lee et al. 2022).

    Recall caveat (r06 MEASURED, tools/scale_recall.py): on a corpus
    whose vocabulary does not grow with n, the df spectrum degenerates
    — at 50k docs of the 31-word synthetic vocab NO trigram has
    df ≤ 30, and the capped join's recall collapses to 0/2226 true
    pairs. The cap is therefore a SKEW GUARD for heavy-tailed real
    corpora, not a universal candidate tier; the candidate tier of
    record at scale is MinHash-LSH banding (measured recall 0.996,
    n^0.55, 60.6 s at x100 — scale_bench `minhash_candidate_tier`)."""
    d = spread(T(spark, sf_dir, "documents"))
    return dedup.ngram_jaccard_pairs(
        d,
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
        max_shingle_freq=0.08,
        max_shingle_df=30,
    )


# MinHash oracle pieces: the engine's LCG-derived universal-hash params
# are inlined as literals, so DuckDB evaluates the SAME 32 hash
# functions; band collision is compared directly on the 4-tuples (no
# digest needed — digest equality on both engines ⇔ tuple equality).
_MH_PARAMS = dedup._minhash_params(32)
_MH_COLS = ",\n           ".join(
    f"list_min(list_transform(th, x -> ({a} * x + {b}) % {HASH_MOD})) AS m{i}"
    for i, (a, b) in enumerate(_MH_PARAMS)
)
_MH_BAND_CONDS = "\n       OR ".join(
    "(" + " AND ".join(f"a.m{bi * 4 + j} = b.m{bi * 4 + j}" for j in range(4)) + ")"
    for bi in range(8)
)


@_register(
    "minhash_lsh_candidates",
    oracle=f"""
WITH d AS (
    SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
    FROM documents WHERE doc_id < 200
), g AS (
    SELECT doc_id,
           list_distinct([list_aggr(t[i:i+1], 'string_agg', ' ')
                          for i in range(1, len(t))]) AS toks
    FROM d
), h AS (
    SELECT doc_id,
           list_distinct(list_transform(toks, t2 -> {_sql_token_hash('t2')})) AS th
    FROM g
), m AS (
    SELECT doc_id, th,
           {_MH_COLS}
    FROM h
), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.th AS tha, b.th AS thb
    FROM m a JOIN m b
      ON a.doc_id < b.doc_id
     AND ({_MH_BAND_CONDS})
)
SELECT id_a, id_b,
       round(len(list_intersect(tha, thb))
             / (len(tha) + len(thb) - len(list_intersect(tha, thb))), 6) AS jaccard
FROM cand
WHERE round(len(list_intersect(tha, thb))
            / (len(tha) + len(thb) - len(list_intersect(tha, thb))), 6) >= 0.2
""",
    tags=("dedup", "minhash", "lsh"),
    bench=True,
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH(8 bands) near-dup pairs, verified with exact
    Jaccard ≥ 0.2 over 31-bit-hashed 2-gram shingle sets. Formerly a
    rows-only check; the oracle replays the identical minhash family
    (inlined LCG params), band structure, AND shingle hash, so the full
    LSH pipeline — signatures, banding, candidate join, hashed-Jaccard
    verify — sits under the value-hash gate."""
    d = spread(T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200))
    return dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=2, num_hashes=32, bands=8, threshold=0.2
    )


# 16 bands × 2 rows over the same 32-hash family — the corpus-scale
# banding (P[candidate] = 1-(1-J²)^16 ≈ 0.99 at J = 0.5)
_MH16_BAND_CONDS = "\n       OR ".join(
    "(" + " AND ".join(f"a.m{bi * 2 + j} = b.m{bi * 2 + j}" for j in range(2)) + ")"
    for bi in range(16)
)


@_register(
    "minhash_dedup_pairs_corpus",
    # Full-corpus twin of the candidate tier of record: trigram
    # shingles (short-doc single-shingle rule shared with the jaccard
    # oracle), the SAME inlined 32-hash LCG family, 16×2 banding
    # compared on raw tuples, exact-Jaccard verify at 0.5.
    oracle=f"""
WITH d AS (
    SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
    FROM documents
), g AS (
    SELECT doc_id,
           CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
                WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                ELSE list_distinct([list_aggr(t[i:i+2], 'string_agg', ' ')
                                    for i in range(1, len(t) - 1)]) END AS toks
    FROM d
), h AS (
    SELECT doc_id,
           list_distinct(list_transform(toks, t2 -> {_sql_token_hash('t2')})) AS th
    FROM g
), m AS (
    SELECT doc_id, th,
           {_MH_COLS}
    FROM h
), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.th AS tha, b.th AS thb
    FROM m a JOIN m b
      ON a.doc_id < b.doc_id
     AND ({_MH16_BAND_CONDS})
)
SELECT id_a, id_b,
       round(len(list_intersect(tha, thb))
             / (len(tha) + len(thb) - len(list_intersect(tha, thb))), 6) AS jaccard
FROM cand
WHERE round(len(list_intersect(tha, thb))
            / (len(tha) + len(thb) - len(list_intersect(tha, thb))), 6) >= 0.5
""",
    tags=("dedup", "minhash", "lsh", "scale"),
    bench=True,
)
def minhash_dedup_pairs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Jaccard CANDIDATE TIER OF RECORD at corpus scale, full-corpus
    and value-hash gated (minhash_lsh_candidates keeps the 200-doc
    panel / 8×4 banding for its own oracle): MinHash(32) + 16 bands × 2
    rows + exact Jaccard verify at 0.5 over 31-bit-hashed trigram
    shingle sets. r06 scale measurements: recall 0.996 of the exhaustive
    posting join's pairs at x10, n^0.55, 60.6 s at x100 (500k docs) —
    where the exhaustive join OOMs and the df-capped join's recall
    collapses on the fixed-vocab family (bench_runs/r06_recall.json,
    r06_scaling_minhash_tier.json). Only (band, bucket) keys shuffle
    corpus-wide; the r10 verify rework (see minhash_lsh_pairs) ends the
    double corpus-shuffle of raw string shingles that made this the
    engine's steepest exponent: 0.81 / 70 s / 54 MB spill at x100 →
    0.712 / 51.6 s / zero spill at every scale
    (bench_runs/r10_scaling_minhash_rework.json)."""
    d = spread(T(spark, sf_dir, "documents"))
    return dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=32, bands=16, threshold=0.5
    )


@_register(
    "cross_source_duplication",
    # Provenance-leakage matrix: which SOURCES copy from each other —
    # the report that decides per-source dedup policy (and catches a
    # crawler ingesting the same mirror twice) before a 100 TB keep-one
    # pass. Composes the MinHash tier-of-record oracle VERBATIM; the
    # per-pair jaccard (already 6-dp-identical both engines) converts
    # to milli-units per pair BEFORE averaging, so the mean is integer
    # arithmetic with no summation-order surface.
    oracle=f"""
WITH pairs AS ({{}}),
lab AS (
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(floor(p.jaccard * 1000 + 0.5) AS BIGINT) AS j_milli
    FROM pairs p
    JOIN documents da ON p.id_a = da.doc_id
    JOIN documents db ON p.id_b = db.doc_id
)
SELECT source_a, source_b, count(*) AS n_pairs,
       CAST(sum(j_milli) // count(*) AS BIGINT) AS mean_jaccard_milli
FROM lab GROUP BY source_a, source_b
""".format(CATALOG["minhash_dedup_pairs_corpus"].oracle),
    tags=("dedup", "minhash", "provenance", "report", "curation"),
)
def cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix over the MinHash candidate
    tier of record: every verified near-dup pair labels with its two
    documents' sources (unordered — least/greatest), then aggregates to
    (source_a, source_b, n_pairs, integer-milli mean jaccard). Scale
    posture: adds two doc_id-keyed joins (the pair list is the SPARSE
    near-dup set, orders of magnitude under the corpus) and one tiny
    matrix aggregate on top of the measured n^0.55 banding plan."""
    d = spread(T(spark, sf_dir, "documents"))
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=32, bands=16, threshold=0.5
    )
    src = d.select("doc_id", "source")
    lab = (
        pairs.join(src.withColumnRenamed("source", "sa"), pairs["id_a"] == src["doc_id"])
        .drop("doc_id")
        .join(
            src.withColumnRenamed("source", "sb"),
            F.col("id_b") == F.col("doc_id"),
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            F.floor(F.col("jaccard") * 1000 + 0.5).cast("long").alias("j_milli"),
        )
    )
    return lab.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("sum(j_milli) div count(1)").alias("mean_jaccard_milli"),
    )


# Shared oracle fragment: documents → (doc_id, 16-bit simhash)
def _simhash_fp_sql(bits: int = 16) -> str:
    """The simhash fingerprint CTE chain (sd → sh → fp) for a given
    width — token hashes carry 31 bits, so bits ≤ 31."""
    assert bits <= 31
    bit_list = ", ".join(str(i) for i in range(bits - 1, -1, -1))
    return f"""
sd AS (
    SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
), sh AS (
    SELECT doc_id,
           list_transform(toks, t2 -> {_sql_token_hash('t2')}) AS th
    FROM sd
), fp AS (
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform([{bit_list}],
                   i -> CASE WHEN list_sum(list_transform(th,
                            hh -> (CAST(floor(hh / pow(2, i)) AS BIGINT) % 2) * 2 - 1)) > 0
                        THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
               (a, b) -> a * 2 + b) AS simhash
    FROM sh
)"""


_SIMHASH_FP_SQL = _simhash_fp_sql(16)


@_register(
    "simhash_fingerprints",
    oracle=f"""
WITH {_SIMHASH_FP_SQL}
SELECT doc_id, simhash FROM fp
""",
    tags=("dedup", "simhash"),
    bench=True,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document — pure per-row array arithmetic."""
    d = spread(T(spark, sf_dir, "documents"))
    return dedup.simhash(d, "doc_id", "text", bits=16).withColumnRenamed("id", "doc_id")


#: simhash width derivation: the fingerprint SPACE must grow with the
#: corpus or d≤2 birthday pairs (≈ n²·C(bits,≤2)/2^bits) swamp the real
#: near-dups — the same fixed-knob class as SemDeDup k / SRP-LSH bits.
#: 16 bits per 5000 docs, +1 bit per doubling, rounded UP to a multiple
#: of 4 (the band count), capped at 28 (token hashes carry 31 bits).
_HAMMING_MIN_BITS, _HAMMING_BASE_DOCS, _HAMMING_MAX_BITS = 16, 5000, 28


def _corpus_rows(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Knob-sizing row count from parquet FOOTER metadata — zero Spark
    jobs (optimization guide §1.2: derived-knob scalars should not cost
    a cluster job each; the streaming runner's state-partition knob set
    the precedent with the same ``parquet_num_rows`` probe). The footer
    ``num_rows`` IS the table count, so every derived knob (bits, k)
    and therefore every query result is byte-identical to the former
    ``spread(T(...)).count()`` job — seven catalog entries each paid
    that scan+exchange+agg job purely to size a knob. Falls back to the
    count job when the footer probe cannot serve the path (non-parquet
    layout, remote store without local stat access) — which is also the
    honest 100 TB posture: a driver sequentially stat-ing thousands of
    part footers would serialize what the distributed metadata count
    parallelizes, so production deployments with huge file counts keep
    the fallback and this fast path only fires for single-digit file
    counts."""
    from pathlib import Path

    try:
        p = Path(sf_dir) / f"{table}.parquet"
        n_files = sum(1 for _ in p.glob("*.parquet")) if p.is_dir() else 1
        if n_files <= 64:
            from ..streaming.sources import parquet_num_rows

            return parquet_num_rows(sf_dir, table)
    except Exception:  # noqa: BLE001 — sizing must never fail the plan
        pass
    return T(spark, sf_dir, table).count()


def _hamming_bits_for(n: int) -> int:
    """Twin of the SQL formula in simhash_hamming_pairs' ``p`` CTE."""
    import math

    raw = _HAMMING_MIN_BITS + math.ceil(
        math.log2(max(n, 1) / _HAMMING_BASE_DOCS)
    )
    return min(
        _HAMMING_MAX_BITS, max(_HAMMING_MIN_BITS, 4 * math.ceil(raw / 4))
    )


@_register(
    "simhash_hamming_pairs",
    # Brute force over the COUNT-DERIVED-width fingerprint. A b-bit
    # simhash is bit-positions b-1..0 of the 31-bit one (each bit is an
    # independent sign vote), i.e. fp31 % 2^b — so one 31-bit fragment
    # serves every derived width and the oracle replays the engine's
    # width formula with count(*) arithmetic.
    oracle=f"""
WITH {_simhash_fp_sql(31).lstrip()},
p AS (
    SELECT least({_HAMMING_MAX_BITS}, greatest({_HAMMING_MIN_BITS},
           4 * CAST(ceil(({_HAMMING_MIN_BITS} + ceil(log2(greatest(count(*), 1)
               / {_HAMMING_BASE_DOCS}.0))) / 4.0) AS INTEGER))) AS bits
    FROM fp
),
fpb AS (
    SELECT doc_id, simhash % (CAST(1 AS BIGINT) << bits) AS fp
    FROM fp CROSS JOIN p
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM fpb a JOIN fpb b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 2
""",
    tags=("dedup", "simhash", "lsh"),
    bench=True,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming-ball near-dup search (4 bands, d ≤ 2). Banding
    with max_distance < bands is EXACT by pigeonhole, so the oracle is
    the brute-force all-pairs scan — the value-hash equality of the two
    is itself the proof that the banded plan loses nothing while never
    materializing the quadratic pair space.

    The fingerprint WIDTH is count-derived (16 bits per 5000 docs, +1
    per doubling, 4-aligned — mirrored exactly in the oracle SQL), so
    RANDOM birthday collisions (≈ n²·C(bits,≤2)/2^bits) stay ∝ n on a
    heterogeneous corpus instead of saturating a fixed 2^16 space. At
    sf0.01/sf0.1 the formula lands on 16, so derived and historical
    plans coincide. Honest scale caveat (measured, r7): on the
    HOMOGENEOUS synthetic families (fixed-vocab AND Zipf — every doc
    drawn from one global term distribution) per-bit votes are
    population-biased at every width, fingerprints concentrate, and the
    dense d≤2 output (~n²) is the CORRECT answer, not a knob failure —
    the corpus-wide production tier for such data is the star-collapsed
    component form (`dedup_clusters`, n^0.345), which never
    materializes intra-clique pairs. Since r11 the PAIR-semantics scale
    tier is `simhash_neardup_quotient` (multiplicity algebra,
    sum(implied_pairs) == this entry's row count), and this exploded
    form is scale-tier skip-listed above sf1 (bench.py
    SCALE_TIER_SKIPS) — its 520.7 s at sf10 was a third of the whole
    r10 wall."""
    d = spread(T(spark, sf_dir, "documents"))
    bits = _hamming_bits_for(_corpus_rows(spark, sf_dir, "documents"))
    return dedup.simhash_near_dup_pairs(
        d, "doc_id", "text", bits=bits, bands=4, max_distance=2
    )


@_register(
    "simhash_neardup_quotient",
    # Quotient-by-fingerprint of the d ≤ 2 Hamming graph: distinct
    # fingerprints all-pairs in the oracle (few), multiplicity algebra
    # in exact BIGINTs. sum(implied_pairs) equals the exploded
    # simhash_hamming_pairs row count — the cross-entry conservation
    # law the scale probe checks.
    oracle=f"""
WITH {_simhash_fp_sql(31).lstrip()},
p AS (
    SELECT least({_HAMMING_MAX_BITS}, greatest({_HAMMING_MIN_BITS},
           4 * CAST(ceil(({_HAMMING_MIN_BITS} + ceil(log2(greatest(count(*), 1)
               / {_HAMMING_BASE_DOCS}.0))) / 4.0) AS INTEGER))) AS bits
    FROM fp
),
fpb AS (
    SELECT doc_id, simhash % (CAST(1 AS BIGINT) << bits) AS f
    FROM fp CROSS JOIN p
),
g AS (
    SELECT f, CAST(count(*) AS BIGINT) AS m FROM fpb GROUP BY f
)
SELECT a.f AS fp_a, a.m AS m_a, b.f AS fp_b, b.m AS m_b,
       CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming,
       CAST(a.m * b.m AS BIGINT) AS implied_pairs
FROM g a JOIN g b ON a.f < b.f AND bit_count(xor(a.f, b.f)) <= 2
UNION ALL
SELECT f, m, f, m, CAST(0 AS BIGINT), CAST(m * (m - 1) // 2 AS BIGINT)
FROM g WHERE m >= 2
""",
    tags=("dedup", "simhash", "lsh", "scale"),
    bench=True,
)
def simhash_neardup_quotient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-tier REPRESENTATIVE form of simhash_hamming_pairs
    (VERDICT r10 #5): equal-fingerprint cliques collapse to one
    (fingerprint, multiplicity) row and distinct-fingerprint pairs to
    one row carrying both multiplicities, so the output is O(distinct-
    fp pairs) where the exploded pair list is Θ(Σ clique²) — 520.7 s /
    33% of the whole sf10 wall for the exploded form, by-semantics.
    sum(implied_pairs) reproduces the exploded row count exactly
    (conservation law, pinned by the scale probe), and the exploded
    form stays oracled at sf ≤ 1 where its answer is tractable. Same
    derived-width fingerprints, same 4-band exact-by-pigeonhole banded
    join — but over DISTINCT fingerprints only, the
    dedup_clusters/pagerank quotient discipline applied to the pair
    report itself."""
    d = spread(T(spark, sf_dir, "documents"))
    bits = _hamming_bits_for(_corpus_rows(spark, sf_dir, "documents"))
    return dedup.simhash_quotient_pairs(
        d, "doc_id", "text", bits=bits, bands=4, max_distance=2
    )


def _pr_round_sql(prev: str, c: str, out: str) -> str:
    """One integer-nano PageRank round in SQL: contributions are
    pr // deg (exact BIGINT div), the damping mix is (850·S) // 1000 —
    no float anywhere, so summation order cannot flip a single bit."""
    return f"""
{c} AS (
    SELECT e.t AS doc_id, sum(p.pr // deg.d) AS s
    FROM e JOIN {prev} p ON p.doc_id = e.s JOIN deg ON deg.s = e.s
    GROUP BY e.t
),
{out} AS (
    SELECT nodes.doc_id,
           (SELECT 150000000 // n FROM nn)
             + (850 * coalesce({c}.s, 0)) // 1000 AS pr
    FROM nodes LEFT JOIN {c} USING (doc_id)
)"""


@_register(
    "pagerank_neardup_graph",
    # The SECOND graph algorithm under the hash gate (connected
    # components being the first): two unrolled PageRank rounds over
    # the d ≤ 1 near-dup graph, in INTEGER nano-units end to end —
    # contributions are pr // deg, damping is (850·S) // 1000 — so the
    # classic float-summation-order hazard of distributed PageRank has
    # no surface at all. Dangling/isolated nodes receive the base rank
    # only (no dangling-mass redistribution — the standard single-pass
    # simplification, same both engines). Edges compose the
    # simhash_hamming_pairs oracle verbatim, restricted to d ≤ 1.
    oracle=f"""
WITH pairs AS ({{}}),
e AS (
    SELECT id_a AS s, id_b AS t FROM pairs WHERE hamming <= 1
    UNION ALL
    SELECT id_b AS s, id_a AS t FROM pairs WHERE hamming <= 1
),
nodes AS (SELECT doc_id FROM documents),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT s, count(*) AS d FROM e GROUP BY s),
pr0 AS (
    SELECT doc_id, (SELECT 1000000000 // n FROM nn) AS pr FROM nodes
),
{_pr_round_sql('pr0', 'c1', 'pr1')},
{_pr_round_sql('pr1', 'c2', 'pr2')}
SELECT doc_id, CAST(pr AS BIGINT) AS pr_nano FROM pr2
""".format(CATALOG["simhash_hamming_pairs"].oracle),
    tags=("graph", "pagerank", "dedup", "iterative"),
)
def pagerank_neardup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two integer-nano PageRank rounds over the near-duplicate graph:
    which documents sit at the CENTER of duplication neighborhoods —
    the centrality view that complements the component view
    (dedup_clusters tells you the groups; rank tells you each group's
    hub).

    Spark-first scale shape — the QUOTIENT graph: documents with EQUAL
    fingerprints are structurally identical in the pairwise d ≤ 1
    graph, so they provably carry identical rank at every round. The
    plan therefore ranks DISTINCT fingerprints with multiplicities
    (per-member degree = (m−1) + Σ m_neighbor; per-member inbox =
    (m−1)·c_own + Σ m_g·c_g) and fans the rank back to documents at
    the end. The naive per-document pair graph is Θ(Σ clique²) edges —
    the SAME equal-fingerprint blowup the r06 scale runs killed in the
    clustering tier (a first-cut pairwise probe of this entry died at
    x30 on the homogeneous family); the quotient runs over the
    star-collapse's distinct-fp banded join instead. The ORACLE stays
    the naive pairwise formulation, so every run's hash equality
    PROVES the quotient algebra — the dedup_clusters discipline. All
    arithmetic is BIGINT div/sum, bit-identical by construction."""
    d = spread(T(spark, sf_dir, "documents"))
    n = _corpus_rows(spark, sf_dir, "documents")
    bits = _hamming_bits_for(n)
    fps = dedup.simhash(d, "doc_id", "text", bits)  # (id, simhash)
    # fps feeds BOTH the quotient aggregate and the final fan-back join.
    # Caching it is itself a SCALE-CONDITIONAL knob (measured, sf0.1
    # A/B): the eager cache (persist + count — lazy persist lets the
    # two consumer stages race and duplicate the fold) costs ~3 s of
    # fixed overhead that dominates small corpora (3.7 s → 6.8 s at
    # 5k docs) but saves a second corpus-wide simhash fold where that
    # fold dominates (22.4 s → 16.4 s at 500k docs). Same derived-knob
    # discipline as bits/k: the plan adapts to the corpus count. Plain
    # lineage-intact cache — safely evictable, unlike a checkpoint.
    if n >= 100_000:
        pin(fps)
    # g (the quotient frame — one narrow row per distinct fingerprint)
    # is consumed by the banded join, the neighbor-multiplicity side,
    # and the degree build. EAGER persist-locking (r14): AQE submits
    # independent query stages concurrently, so a lazy boundary here
    # raced and re-ran the corpus simhash fold per consumer — the same
    # root cause as curation_refresh_e2e's bimodality. Measured sf0.1
    # A/B (cache-cleared, alternating): lazy 6.3-10.6 s with a 45 s
    # outlier → 3.7-4.5 s pinned, identical values.
    g = fps.groupBy("simhash").agg(F.count(F.lit(1)).alias("m"))
    pin(g)
    adjp = dedup._banded_hamming_pairs(
        g.select(F.col("simhash").alias("id"), "simhash"), bits, 2, 1
    ).select("id_a", "id_b")
    # adj is referenced once for the degree fold and once per PageRank
    # round (3 references): without a boundary the banded self-join
    # pipeline behind it re-executes per reference, and each round's
    # reference compounds with the round-lineage doubling below (the
    # r13 before-plan held 204 Exchange nodes for a 2-round walk).
    # Quotient-sized (2 BIGINTs per near-dup fp pair), lineage intact —
    # an eviction degrades to recompute (guide §2.4/§5).
    adj = adjp.unionAll(
        adjp.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    pin(adj)  # 3 consumers (degree fold + one join per round)
    nb = g.select(
        F.col("simhash").alias("id_b"),
        F.col("m").alias("mb"),
    )
    cross = adj.join(nb, "id_b").groupBy("id_a").agg(
        F.sum("mb").alias("crossdeg")
    )
    pr = (
        g.join(cross.withColumnRenamed("id_a", "simhash"), "simhash", "left")
        .select(
            "simhash",
            "m",
            (
                F.col("m") - 1 + F.coalesce("crossdeg", F.lit(0))
            ).cast("long").alias("deg"),
        )
        .withColumn("pr", F.lit(1_000_000_000 // n))
    )
    for _ in range(2):
        # cf is consumed by BOTH the inbox aggregate and the damping
        # join, and round r's lineage contains round r-1's whole tree —
        # unpersisted, the per-round re-execution compounds (the CC
        # loop's round-materialization discipline applied to the second
        # iterative operator). One narrow quotient-sized row per
        # distinct fingerprint.
        cf = pr.select(
            "simhash",
            "m",
            "deg",
            F.when(F.col("deg") > 0, F.expr("pr div deg"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("c"),
        )
        pin(cf)  # inbox aggregate + damping join race otherwise
        crs = (
            adj.join(
                cf.select(
                    F.col("simhash").alias("id_b"),
                    F.col("m").alias("mb"),
                    F.col("c").alias("cb"),
                ),
                "id_b",
            )
            .groupBy("id_a")
            .agg(F.sum(F.expr("mb * cb")).alias("cs"))
        )
        pr = cf.join(
            crs.withColumnRenamed("id_a", "simhash"), "simhash", "left"
        ).select(
            "simhash",
            "m",
            "deg",
            (
                F.lit(150_000_000 // n)
                + F.expr(
                    "(850 * ((m - 1) * c + coalesce(cs, CAST(0 AS BIGINT))))"
                    " div 1000"
                )
            ).alias("pr"),
        )
    return fps.join(pr.select("simhash", "pr"), "simhash").select(
        F.col("id").alias("doc_id"), F.col("pr").alias("pr_nano")
    )


# Shared SimHash clustering: the cluster labeling (dedup_clusters) and
# its size-distribution report (dedup_cluster_stats) are two views over
# ONE connected-components run — without sharing, the report re-paid the
# full fingerprint + banded-join + star-contraction pipeline (~7 s EACH
# at sf0.1, the #3 and #5 catalog entries by cost). The shared-result
# store (session.shared) holds the persisted (doc_id, component_id)
# labeling — two BIGINTs per document, no array payload — lineage stays
# intact so an external unpersist degrades to recompute, never to wrong
# answers. At 100 TB this is the realistic pipeline shape anyway:
# components are computed once and every report derives from the
# labeled frame.
def _dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        d = spread(T(spark, sf_dir, "documents"))
        # 30-bit fingerprints, bands=2 (15-bit bands): pigeonhole still
        # exact for d <= 1. Width matters as much as banding — 16-bit
        # simhash on 5000 docs produced ~348k pairs at sf0.1, almost
        # all birthday collisions of the tiny space (n^2/2^17),
        # ballooning the component graph; at 30 bits the d<=1 graph
        # carries only real near-dups and the star rounds converge on a
        # sparse edge set.
        # COMPONENT edges, not the full pair list: equal fingerprints
        # link via a per-fingerprint star and only DISTINCT
        # fingerprints enter the banded join — component-identical to
        # the pairwise graph (the oracle's transitive closure proves it
        # per run), but the r06 x30 scale measurement showed the
        # pairwise form OOMing inside one (band, value) bucket's
        # |clique|² aggregate when statistically identical docs
        # collapse onto one fingerprint.
        edges = dedup.simhash_component_edges(
            d, "doc_id", "text", bits=30, bands=2, max_distance=1
        )
        # star + rep edges are unique by construction, so the
        # operator's entry dedup shuffle is skipped
        cc = dedup.connected_components(
            edges, "id_a", "id_b", dedupe_edges=False
        )
        return (
            d.select("doc_id")
            .join(cc, F.col("doc_id") == cc["node"], "left")
            .select(
                "doc_id",
                F.coalesce("component", "doc_id").alias("component_id"),
            )
            .persist()
        )

    return shared(spark, sf_dir, "documents", "cluster_labels", build)


@_register(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_simhash_fp_sql(30)},
e AS (
    SELECT a.doc_id AS s, b.doc_id AS t
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
), sym AS (
    SELECT s, t FROM e UNION SELECT t, s FROM e
), reach(node, comp) AS (
    SELECT doc_id, doc_id FROM fp
    UNION
    SELECT sym.t, reach.comp FROM reach JOIN sym ON sym.s = reach.node
), lab AS (
    SELECT node AS doc_id, min(comp) AS component_id FROM reach GROUP BY node
)
SELECT doc_id, component_id,
       count(*) OVER (PARTITION BY component_id) AS component_size,
       doc_id = component_id AS is_canonical
FROM lab
""",
    tags=("dedup", "clustering", "connected-components"),
    bench=True,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → duplicate CLUSTERS with one canonical keeper.

    Composes the banded SimHash pair generator (exact for d ≤ 1 by
    pigeonhole) with alternating large-star/small-star connected
    components, then labels every document with its cluster's smallest
    doc_id, the cluster size, and whether it is the keeper. The oracle
    replays the same graph with a recursive min-reachable CTE, so the
    O(log n)-round distributed algorithm is value-checked against a
    transitive-closure ground truth. The fingerprint + banded-join +
    star-contraction pipeline lives in ``_dedup_cluster_labels`` (with
    its knob rationale), shared with ``dedup_cluster_stats``."""
    lab = _dedup_cluster_labels(spark, sf_dir)
    w = Window.partitionBy("component_id")
    return lab.select(
        "doc_id",
        "component_id",
        F.count(F.lit(1)).over(w).alias("component_size"),
        (F.col("doc_id") == F.col("component_id")).alias("is_canonical"),
    )


@_register(
    "dedup_cluster_stats",
    # The dedup run's OPERATOR REPORT: cluster-size distribution —
    # singleton share, small-cluster masses, the giant component — the
    # numbers that decide whether the near-dup threshold is sane before
    # committing a keep-one pass at 100 TB. The oracle composes the
    # registered dedup_clusters oracle VERBATIM (the recall-report
    # discipline), so this entry and its parent pin each other.
    oracle=f"""
WITH base AS ({{}}),
comp AS (
    SELECT component_id, any_value(component_size) AS cluster_size
    FROM base GROUP BY component_id
)
SELECT cluster_size, count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_dup_docs
FROM comp GROUP BY cluster_size
""".format(CATALOG["dedup_clusters"].oracle),
    tags=("dedup", "clustering", "report", "curation"),
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the SimHash/connected-components
    dedup run: per distinct size, how many clusters, how many documents
    they hold, and how many would be REMOVED by keep-one-per-cluster —
    the yield forecast a curation operator reads before executing the
    drop. Rides the shared ``_dedup_cluster_labels`` memo — one
    connected-components run serves both this report and
    ``dedup_clusters`` — and sizes clusters with a plain count
    aggregate over the labeling (no window needed); sizes and counts
    are exact integers."""
    lab = _dedup_cluster_labels(spark, sf_dir)
    comp = lab.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("long")
        .alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1)))
        .cast("long")
        .alias("n_dup_docs"),
    )


@_register(
    "embedding_near_dup_pairs",
    oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
             6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
            6) >= 0.35
""",
    tags=("dedup", "embedding"),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: exact all-pairs via the blocked-GEMM
    applyInPandas kernel (numpy inside, same results as the pure-SQL
    expression variant but ~50× faster; the LSH-bucketed prefilter is
    operators.dedup.embedding_near_dup_pairs with bucket_bits>0)."""
    e = spread(T(spark, sf_dir, "embeddings"))
    return dedup.embedding_near_dup_pairs_blocked(
        e, "vec_id", "embedding", threshold=0.35
    )


_LSH_MIN_BITS, _LSH_MAX_BITS, _LSH_TABLES, _LSH_DIM = 6, 12, 8, 64
#: target vectors per LSH bucket — the knob both engines derive bits from
_LSH_TARGET_BUCKET = 250


def _lsh_bits_for(n: int) -> int:
    """The count-derived SRP-LSH bit budget: bucket_bits grows with the
    corpus so expected bucket population stays ≈ _LSH_TARGET_BUCKET and
    per-bucket verification work stays bounded (the r06 scale runs
    measured FIXED bits as an n² hazard at x100). Twin of the SQL
    formula in the embedding_near_dup_lsh oracle's ``p`` CTE."""
    import math

    return max(_LSH_MIN_BITS, math.ceil(math.log2(max(n, 2) / _LSH_TARGET_BUCKET)))


def _lsh_bucket_sql(table: int) -> str:
    """DuckDB expression for one SRP-LSH table's bucket id at a
    COUNT-DERIVED bit budget. The monotone plane family (seed stride
    ``PLANE_SEED_STRIDE``, bits-independent, so growing bits only
    appends planes) is inlined to _LSH_MAX_BITS literals; each term is
    gated on ``b < p.bits``, so this one static SQL evaluates the exact
    bucketing at ANY corpus count up to 2^_LSH_MAX_BITS×target (≈1M
    vectors — far past any oracle-scale input). Weights are 2^b fixed
    per plane: any injective packing of the same active bit set induces
    the same bucket-EQUALITY relation, which is all the join uses."""
    from ..operators.ann import PLANE_SEED_STRIDE, _pseudo_random_plane

    terms = []
    for b in range(_LSH_MAX_BITS):
        plane = _pseudo_random_plane(_LSH_DIM, table * PLANE_SEED_STRIDE + b)
        lit = "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in plane) + "]"
        terms.append(
            f"(CASE WHEN {b} < p.bits AND list_dot_product(e, {lit}) >= 0"
            f" THEN {1 << b} ELSE 0 END)"
        )
    return " + ".join(terms)


@_register(
    "embedding_near_dup_lsh",
    # The oracle COMPUTES the engine's bit-budget formula in SQL
    # (count(*) → greatest/ceil/log2) and evaluates the identical
    # hyperplanes under that budget — the driver-validated plan IS the
    # scale-correct parameterization, not a small-sf special case.
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p AS (
    SELECT greatest({_LSH_MIN_BITS},
                    CAST(ceil(log2(greatest(count(*), 2) / {_LSH_TARGET_BUCKET}.0)) AS INTEGER)) AS bits
    FROM v
),
bk AS (
    SELECT vec_id, e,
           """
    + ",\n           ".join(
        f"({_lsh_bucket_sql(t)}) AS b{t}" for t in range(_LSH_TABLES)
    )
    + """
    FROM v CROSS JOIN p
),
cand AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.e AS ea, b.e AS eb
    FROM bk a JOIN bk b
      ON a.vec_id < b.vec_id
     AND ("""
    + " OR ".join(f"a.b{t} = b.b{t}" for t in range(_LSH_TABLES))
    + """)
)
SELECT id_a, id_b,
       round(list_dot_product(ea, eb)
             / (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb))),
             6) AS cosine
FROM cand
WHERE round(list_dot_product(ea, eb)
            / (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb))),
            6) >= 0.35
""",
    tags=("dedup", "embedding", "lsh"),
    bench=True,
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE tier of embedding near-dup: multi-table SRP-LSH
    prefilter (count-derived bits × 8 tables) + exact-cosine
    verification of the candidates. The bucket computation is a
    map-only projection; the self-join shuffles on (table, bucket)
    instead of all-pairs — the plan that survives 100 TB, under the
    same value-hash gate as the exact tier (the oracle inlines the
    identical hyperplanes AND replays the bit-budget formula).
    Output is by construction a subset of ``embedding_near_dup_pairs``;
    tests/test_operators.py measures its recall.

    The blocking knob GROWS WITH THE CORPUS — the r06 lesson, now in
    the registered query itself: fixed 6 bits measured n² at x100
    (bucket population ∝ n ⇒ per-bucket pairs ∝ n²; 2.8 s → 177 s from
    x10 to x100), while bits ≈ log2(n/250) holds expected bucket size
    at the 250-vector target and measured n^0.10 / 7.8 s at x100
    (bench_runs/r06_scaling_lsh_scaled.json, re-measured this round on
    this entry directly). The sizing count is a single scalar job —
    the same bounded-driver-read class as the k≤16 centroid collects;
    at the small SFs the formula floors at 6 bits, so the derived and
    historical plans coincide there."""
    e = spread(T(spark, sf_dir, "embeddings"))
    bits = _lsh_bits_for(_corpus_rows(spark, sf_dir, "embeddings"))
    return dedup.embedding_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.35, bucket_bits=bits,
        num_tables=_LSH_TABLES,
    )


# ===========================================================================
# Similarity search (ANN)
# ===========================================================================

@_register(
    "ann_bruteforce_top10",
    oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
s AS (
    SELECT q.query_id, v.vec_id AS neighbor_id,
           round(list_dot_product(v.e, q.qe)
                 / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))),
                 6) AS cosine
    FROM v, q WHERE v.vec_id <> q.query_id
), r AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM s
)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 10
""",
    tags=("ann", "similarity-search"),
    bench=True,
)
def ann_bruteforce_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors — broadcast map
    stage + per-query window, the exact-search baseline."""
    e = spread(T(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5)
    return ann.brute_force_topk(e, q, "vec_id", "embedding", k=10)


def _cos_sql(a: str, b: str, raw: bool = False) -> str:
    """Cosine in DuckDB list algebra; ``raw`` skips the 6-dp rounding
    (training-time assignment in kmeans_codebook compares unrounded
    sims, probe/rank time uses the rounded ones — mirror both)."""
    expr = (
        f"(list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )
    return expr if raw else f"round({expr}, 6)"


def _ivf_probe_sql(cells: str) -> str:
    """The shared IVF probe pipeline vs a codebook CTE ``cells(cell, ce)``:
    assign every vector to its best cell (rounded-6dp score, smallest
    cell on ties — numpy first-max argmax over the cell-sorted axis),
    probe each query's 4 best cells, exact-cosine rank ≤ 10."""
    return f"""
assigned AS (
    SELECT v.vec_id AS id, v.e, b.cell
    FROM v
    JOIN LATERAL (
        SELECT c.cell, {_cos_sql('v.e', 'c.ce')} AS sim
        FROM {cells} c ORDER BY sim DESC, c.cell ASC LIMIT 1
    ) b ON TRUE
),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
probes AS (
    SELECT query_id, qe, cell FROM (
        SELECT q.query_id, q.qe, c.cell,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_cos_sql('q.qe', 'c.ce')} DESC, c.cell ASC) AS pr
        FROM q, {cells} c
    ) WHERE pr <= 4
),
s AS (
    SELECT p.query_id, a.id AS neighbor_id, {_cos_sql('a.e', 'p.qe')} AS cosine
    FROM assigned a JOIN probes p USING (cell)
    WHERE a.id <> p.query_id
),
r AS (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM s
)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 10"""


def _lloyd_sql(prev: str, a: str, m: str, out: str) -> str:
    """One deterministic Lloyd iteration in SQL: raw-cosine assignment
    (first-max = smallest cell on ties), per-dimension mean, empty cells
    keep the previous centroid — kmeans_codebook's exact recurrence."""
    return f"""
{a} AS (
    SELECT v.vec_id, v.e, b.cell
    FROM v
    JOIN LATERAL (
        SELECT p.cell, {_cos_sql('v.e', 'p.ce', raw=True)} AS sim
        FROM {prev} p
        ORDER BY sim DESC, p.cell ASC LIMIT 1
    ) b ON TRUE
),
{m} AS (
    SELECT cell, list(sx ORDER BY i) AS ce FROM (
        SELECT cell, i, sum(x) / count(*) AS sx FROM (
            SELECT cell, generate_subscripts(e, 1) AS i, unnest(e) AS x FROM {a}
        ) GROUP BY cell, i
    ) GROUP BY cell
),
{out} AS (
    SELECT p.cell, coalesce(m.ce, p.ce) AS ce
    FROM {prev} p LEFT JOIN {m} m USING (cell)
)"""


@_register(
    "ann_ivf_top10",
    # The probe-pruned search IS SQL-expressible because the codebook is
    # deterministic (the 16 smallest-id corpus vectors): the oracle
    # replays assignment, probe selection, and exact-cosine ranking with
    # the same rounded scores and tiebreaks as the numpy path.
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cells AS (
    SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT 16
),
{_ivf_probe_sql('cells')}
""",
    tags=("ann", "ivf"),
)
def ann_ivf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (16 cells, nprobe=4) approximate top-10 — the scale path."""
    e = spread(T(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5)
    return ann.ivf_topk(e, q, "vec_id", "embedding", k=10, num_cells=16, nprobe=4)



# One deterministic codebook serves every consumer (IVF probe, SemDeDup
# blocking, outlier scoring): training is a pure function of the table
# and hyperparameters, so it lives in the shared-result store — the same
# move a production deployment makes by persisting the codebook as a
# model artifact instead of re-running Lloyd per query. The store keys
# it by the embeddings files' size and mtime, so a table rewritten in
# place retrains instead of serving a stale codebook.
def _embeddings_codebook(spark: SparkSession, sf_dir: str, k: int = 16, iters: int = 2):
    def build():
        e = spread(T(spark, sf_dir, "embeddings"))
        return ann.kmeans_codebook(e, "vec_id", "embedding", k=k, iters=iters)

    return shared(spark, sf_dir, "embeddings", f"codebook/{k}/{iters}", build)



@_register(
    "ann_ivf_kmeans_top10",
    # The "iterative algorithms have no SQL twin" assumption was wrong
    # for a FIXED iteration count: two deterministic Lloyd steps unroll
    # into two CTE blocks (init = 16 smallest-id vectors as cells 0-15,
    # raw-cosine assignment, per-dim mean, empty cells carry forward),
    # then the standard IVF probe runs against the trained codebook.
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
c0 AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS ce
    FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)
),
{_lloyd_sql('c0', 'a1', 'm1', 'c1')},
{_lloyd_sql('c1', 'a2', 'm2', 'c2')},
{_ivf_probe_sql('c2')}
""",
    tags=("ann", "ivf", "kmeans", "iterative"),
)

def ann_ivf_kmeans_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 probing a TRAINED codebook: two deterministic Lloyd
    iterations (no RNG — init is the smallest-id vectors, ties resolved
    by cell order) then the same probe plan as ann_ivf_top10. The
    engine's representative iterative algorithm: per iteration one
    map-only numpy assignment + one (cell, dim) shuffle; only the k×dim
    codebook ever reaches the driver."""
    e = spread(T(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5)
    cb = _embeddings_codebook(spark, sf_dir)
    return ann.ivf_topk(e, q, "vec_id", "embedding", k=10, nprobe=4, codebook=cb)


#: target vectors per SemDeDup cell — the knob both engines derive k from
_SEMDEDUP_TARGET_CELL = 250
_SEMDEDUP_MIN_K = 16


def _fine_lloyd_sql(prev: str, a: str, m: str, out: str) -> str:
    """One deterministic Lloyd iteration WITHIN each coarse cell, in SQL:
    ``prev(ccell, fine, ce)`` → ``out`` with the same shape. Raw-cosine
    assignment restricted to the row's own coarse cell (ties → smallest
    fine idx), per-(ccell, fine, dim) mean, empty fine cells carry
    forward — ann.two_level_codebook's fine recurrence, one level below
    ``_lloyd_sql``. Reads the coarse blocking from the fixed CTE ``ca``."""
    return f"""
{a} AS (
    SELECT ca.vec_id, ca.e, ca.ccell, b.fine
    FROM ca
    JOIN LATERAL (
        SELECT p.fine, {_cos_sql('ca.e', 'p.ce', raw=True)} AS sim
        FROM {prev} p WHERE p.ccell = ca.ccell
        ORDER BY sim DESC, p.fine ASC LIMIT 1
    ) b ON TRUE
),
{m} AS (
    SELECT ccell, fine, list(sx ORDER BY i) AS ce FROM (
        SELECT ccell, fine, i, sum(x) / count(*) AS sx FROM (
            SELECT ccell, fine, generate_subscripts(e, 1) AS i, unnest(e) AS x
            FROM {a}
        ) GROUP BY ccell, fine, i
    ) GROUP BY ccell, fine
),
{out} AS (
    SELECT p.ccell, p.fine, coalesce(m.ce, p.ce) AS ce
    FROM {prev} p LEFT JOIN {m} m ON p.ccell = m.ccell AND p.fine = m.fine
)"""


def _two_level_sql() -> str:
    """CTE chain ``v`` → ``tl(vec_id, e, cell)``: the exact recurrence of
    ann.two_level_codebook + TwoLevelCodebook.assign with the derived
    k = greatest(16, n // 250) (VERDICT r11 #2's Θ(n·√k·d) successor to
    the flat codebook). Stages, each mirroring the engine bit-for-bit:
    coarse init = the isqrt(k) smallest-id vectors; two raw-cosine Lloyd
    steps (``_lloyd_sql``); ROUNDED coarse blocking (ties → smallest
    cell); per-cell fine_k = ceil(n_cell / 250); fine init = each cell's
    fine_k smallest-id members; two within-cell Lloyd steps
    (``_fine_lloyd_sql``); ROUNDED fine assignment; global cell id =
    ccell * 1000000 + fine."""
    return f"""
c0 AS (
    SELECT rn - 1 AS cell, e AS ce
    FROM (SELECT row_number() OVER (ORDER BY vec_id) AS rn, e FROM v)
    WHERE rn <= (
        SELECT CAST(floor(sqrt(CAST(greatest({_SEMDEDUP_MIN_K},
                    count(*) // {_SEMDEDUP_TARGET_CELL}) AS DOUBLE))) AS BIGINT)
        FROM v
    )
),
{_lloyd_sql('c0', 'tla1', 'tlm1', 'tlc1')},
{_lloyd_sql('tlc1', 'tla2', 'tlm2', 'tlc2')},
ca AS (
    SELECT v.vec_id, v.e, b.cell AS ccell
    FROM v
    JOIN LATERAL (
        SELECT c.cell, {_cos_sql('v.e', 'c.ce')} AS sim
        FROM tlc2 c ORDER BY sim DESC, c.cell ASC LIMIT 1
    ) b ON TRUE
),
cnts AS (SELECT ccell, count(*) AS n_c FROM ca GROUP BY ccell),
f0 AS (
    SELECT ccell, rn - 1 AS fine, e AS ce FROM (
        SELECT ca.ccell, ca.e,
               row_number() OVER (PARTITION BY ca.ccell ORDER BY ca.vec_id) AS rn,
               greatest(1, CAST(ceil(CAST(c.n_c AS DOUBLE)
                                     / {_SEMDEDUP_TARGET_CELL}.0) AS BIGINT)) AS fk
        FROM ca JOIN cnts c USING (ccell)
    ) WHERE rn <= fk
),
{_fine_lloyd_sql('f0', 'fla1', 'flm1', 'flc1')},
{_fine_lloyd_sql('flc1', 'fla2', 'flm2', 'flc2')},
tl AS (
    SELECT ca.vec_id, ca.e, ca.ccell * 1000000 + b.fine AS cell
    FROM ca
    JOIN LATERAL (
        SELECT p.fine, {_cos_sql('ca.e', 'p.ce')} AS sim
        FROM flc2 p WHERE p.ccell = ca.ccell
        ORDER BY sim DESC, p.fine ASC LIMIT 1
    ) b ON TRUE
)"""


def _embeddings_codebook2(spark: SparkSession, sf_dir: str, k: int):
    """Two-level codebook over the embeddings table, shared the same way
    as ``_embeddings_codebook`` (one model artifact per table and k)."""
    def build():
        e = spread(T(spark, sf_dir, "embeddings"))
        return ann.two_level_codebook(
            e, "vec_id", "embedding", k=k, iters=2,
            target_cell=_SEMDEDUP_TARGET_CELL,
        )

    return shared(spark, sf_dir, "embeddings", f"two-level/{k}/2", build)


def _semdedup_k_for(n: int) -> int:
    """Count-derived SemDeDup cluster count: k grows with the corpus so
    expected cell population stays ≈ _SEMDEDUP_TARGET_CELL and
    within-cell pairwise work stays ∝ n (fixed k is ∝ n²/k — SemDeDup's
    documented cost model, measured as the x100 hazard in r06). Twin of
    the SQL formula in the semantic_dedup_flags oracle's init CTE."""
    return max(_SEMDEDUP_MIN_K, n // _SEMDEDUP_TARGET_CELL)


@_register(
    "semantic_dedup_flags",
    # The full SemDeDup pipeline replays in SQL with the TWO-LEVEL
    # codebook (VERDICT r11 #2): _two_level_sql unrolls coarse init →
    # 2 Lloyd steps → rounded coarse blocking → derived fine_k → 2
    # within-cell Lloyd steps → rounded fine assignment, with the
    # cluster count DERIVED from count(*) by the engine's own formula.
    # Then the within-cluster smaller-id-wins pruning rule as a
    # DISTINCT + LEFT JOIN, unchanged.
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
{_two_level_sql()},
assigned AS (SELECT vec_id AS id, e, cell FROM tl),
dups AS (
    SELECT DISTINCT b.id
    FROM assigned a JOIN assigned b USING (cell)
    WHERE a.id < b.id AND {_cos_sql('a.e', 'b.e')} >= 0.35
)
SELECT a.id AS vec_id, a.cell, (d.id IS NOT NULL) AS is_dup
FROM assigned a LEFT JOIN dups d ON a.id = d.id
""",
    tags=("dedup", "semantic", "embedding", "kmeans"),
    bench=True,
)
def semantic_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023): k-means
    cluster blocking (trained codebook) then within-cluster
    pairwise-cosine pruning with the keep-first rule. One flag row per
    vector — the curation-pipeline face of embedding dedup,
    complementing the pair-producing LSH tier.

    The cluster count is DERIVED from the corpus count (k = max(16,
    n//250), mirrored exactly in the oracle SQL): the r06 scale runs
    measured fixed k=16 as superlinear (within-cell pairs ∝ n²/k).
    Since r12 the blocking is the TWO-LEVEL codebook (coarse isqrt(k)
    cells → fine within-cell; ann.two_level_codebook): the flat
    derived-k codebook's training+assignment GEMM was Θ(n·k·d) =
    Θ(n²·d/250) — the confirmed r11 scale-killer (17.1× sf1→sf10 on
    the sibling cluster_balanced_sample) — while the two-level route
    is Θ(n·√k·d), with identical downstream semantics (block on cell,
    prune within). The sizing count is one scalar job (bounded driver
    read)."""
    e = spread(T(spark, sf_dir, "embeddings"))
    k = _semdedup_k_for(_corpus_rows(spark, sf_dir, "embeddings"))
    model = _embeddings_codebook2(spark, sf_dir, k=k)
    out = dedup.semantic_dedup(e, "vec_id", "embedding", codebook=model, tau=0.35)
    return out.withColumnRenamed("id", "vec_id")


@_register(
    "cluster_balanced_sample",
    # Diversity-preserving coreset selection (the DataComp/DoReMi-family
    # move after SemDeDup: sample per semantic CLUSTER, not per corpus,
    # so head clusters stop dominating): ceil(sqrt(cell_n)) docs per
    # k-means cell, chosen by salted-hash order (retry-stable, no RNG).
    # The oracle replays the identical two-level derived-k codebook
    # chain as semantic_dedup_flags (_two_level_sql), the salted
    # polynomial hash, and the sqrt budget (IEEE sqrt is correctly
    # rounded — identical both engines; perfect squares are exact, so
    # ceil never sits on a float boundary).
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
{_two_level_sql()},
assigned AS (SELECT vec_id AS id, cell FROM tl),
rk AS (
    SELECT id, cell,
           count(*) OVER (PARTITION BY cell) AS cell_n,
           row_number() OVER (
               PARTITION BY cell
               ORDER BY {_sql_token_hash("'cbs|' || CAST(id AS VARCHAR)")} ASC, id ASC
           ) AS sample_rank
    FROM assigned
)
SELECT id AS vec_id, cell, cell_n, sample_rank
FROM rk WHERE sample_rank <= CAST(ceil(sqrt(cell_n)) AS BIGINT)
""",
    tags=("sampling", "diversity", "embedding", "kmeans", "curation"),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced coreset sampling: assign every embedding to the
    derived-k k-means codebook (the SemDeDup blocking, memoized), then
    keep ceil(sqrt(cell_n)) representatives per cell in salted-hash
    order — head clusters contribute sub-linearly, tail clusters keep
    at least one exemplar, and the pick is deterministic under task
    retries. Scale posture: assignment is the map-only broadcast-GEMM
    stage; the per-cell rank is ONE shuffle whose key count (= k) grows
    with the corpus by the derived-knob formula, so cells — and their
    sort runs — stay ≈250 rows at any scale; output size is
    Σ√cell ≈ √(n·k) ∝ n/√target — sub-linear.

    COST-MODEL HISTORY (r11 → r12): the k ∝ n derived knob made the
    FLAT codebook's training + assignment GEMM Θ(n·k·d) =
    Θ(n²·d/target_cell) — profiled at sf10 (200k vectors, k=800):
    train 10.4 s + assign 3.3 s vs trivial at 20k/k=80 (the r10
    x-family exponent 0.25 was an overhead-dominated fit; 17.1×
    sf1→sf10 confirmed, VERDICT r11 #2). Since r12 the blocking is
    ann.two_level_codebook — coarse isqrt(k) cells, then
    ceil(n_cell/250) fine cells trained only on each cell's members —
    Θ(n·√k·d) for training AND assignment, same derived cell
    population, oracle replays the exact two-level recurrence."""
    e = spread(T(spark, sf_dir, "embeddings"))
    k = _semdedup_k_for(_corpus_rows(spark, sf_dir, "embeddings"))
    model = _embeddings_codebook2(spark, sf_dir, k=k)
    assigned = model.assign(e, "vec_id", "embedding")
    order_key = dedup.token_hash(
        F.concat(F.lit("cbs|"), F.col("id").cast("string"))
    )
    wc = Window.partitionBy("cell")
    wr = Window.partitionBy("cell").orderBy(order_key.asc(), F.col("id").asc())
    return (
        assigned.select("id", "cell")
        .withColumn("cell_n", F.count(F.lit(1)).over(wc))
        .withColumn("sample_rank", F.row_number().over(wr))
        .filter(F.col("sample_rank") <= F.ceil(F.sqrt(F.col("cell_n"))))
        .select(F.col("id").alias("vec_id"), "cell", "cell_n", "sample_rank")
    )


_BM25_TERMS = ("spark", "join", "window")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


# Shared BM25 CTE chain ending in ``bmt`` (the top-20 result) so the
# plain keyword query and the PRF rerank replay the IDENTICAL scorer.
# Identical decimal literals (2.2, 1.2, 0.25, 0.75) on both engines
# parse to the same doubles; per-term contributions quantize to INTEGER
# 1e-8 units so the per-doc score rides an exact BIGINT sum — even a
# 3-term float sum reorders across engines/runs (1-ulp flip at sf0.1).
_BM25_CTES_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl FROM t),
st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
    SELECT doc_id, w, count(*) AS tf
    FROM (SELECT doc_id, unnest(toks) AS w FROM t)
    WHERE w IN ({_BM25_TERMS_SQL})
    GROUP BY doc_id, w
),
dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
idf AS (
    SELECT w, round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 8) AS idf
    FROM dfq CROSS JOIN st
),
sc AS (
    SELECT tf.doc_id,
           CAST(floor(idf.idf * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))
                 * 100000000 + 0.5) AS BIGINT) AS contrib_e8
    FROM tf JOIN idf USING (w) JOIN dl USING (doc_id) CROSS JOIN st
),
bmt AS (
    SELECT doc_id, count(*) AS n_terms,
           round(CAST(sum(contrib_e8) AS DOUBLE) / 100000000.0, 6) AS bm25
    FROM sc GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT 20
)"""


@_register(
    "bm25_keyword_topk",
    oracle=_BM25_CTES_SQL + "\nSELECT doc_id, n_terms, bm25 FROM bmt\n",
    tags=("retrieval", "bm25", "text-analysis"),
    bench=True,
)
def bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword retrieval (Robertson/Spärck Jones probabilistic
    relevance framework; k1=1.2, b=0.75): score every document against a
    literal term set and return the global top 20 — the lexical-search
    face of the engine, complementing the ANN vector tiers.

    Plan shape / 100 TB posture: the token explode filters to the query
    terms BEFORE any aggregation (the corpus scan emits only matching
    tokens — at scale this is the posting-list read an inverted index
    would serve); tf is one (doc, term) shuffle; document frequencies
    and the N/avgdl scalars are tiny aggregates broadcast back; the
    final ranking is a global top-k (TakeOrderedAndProject — never a
    full sort). No Python anywhere."""
    return _bm25_topk(spark, sf_dir)


def _bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared BM25 top-20 scorer (see bm25_keyword_topk docstring);
    also the candidate generator for bm25_prf_rerank."""
    d = spread(T(spark, sf_dir, "documents"))
    dl = d.select(
        "doc_id", text.whitespace_token_count(F.col("text")).alias("dl")
    )
    st = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        d.select("doc_id", F.explode(text.whitespace_tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    idf = (
        tf.groupBy("w")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(st))
        .select(
            "w",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                ),
                8,
            ).alias("idf"),
            "avgdl",
        )
    )
    contrib_e8 = F.floor(
        F.col("idf")
        * (F.col("tf") * F.lit(2.2))
        / (
            F.col("tf")
            + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
        )
        * F.lit(100000000)
        + F.lit(0.5)
    )
    top = (
        tf.join(F.broadcast(idf), "w")
        .join(dl, "doc_id")
        .withColumn("contrib_e8", contrib_e8)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.round(
                F.sum("contrib_e8").cast("double") / F.lit(100000000.0), 6
            ).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    # ≤20 rows by construction, but EVERY downstream consumer pair (PRF
    # centroid + rerank, RRF anchor + fuse, hard-negative anchor + anti
    # join) referenced it twice — re-running the corpus-wide posting
    # scan + TakeOrderedAndProject once per reference (guide §2.4 /
    # §5: cache when the recompute is a corpus pass and the cache is
    # bytes). Lineage intact; eviction degrades to recompute. EAGER
    # (r14): a lazy boundary with two consumers in one action races
    # under AQE's concurrent stage materialization — the count pins the
    # posting scan to exactly one execution.
    pin(top)
    return top


@_register(
    "bm25_prf_rerank",
    # Appends the PRF stages to the shared BM25 CTE chain: top-3 docs,
    # per-dimension 8-dp centroid, 6-dp cosine rerank. Parallel unnest
    # zips the vector with its subscripts; the centroid re-assembles
    # with list(v ORDER BY pos) — position-keyed on both engines.
    oracle=_BM25_CTES_SQL + f""",
p3 AS (SELECT doc_id FROM bmt ORDER BY bm25 DESC, doc_id ASC LIMIT 3),
cent AS (
    SELECT pos, round(avg(x), 8) AS v
    FROM (SELECT unnest(CAST(e.embedding AS DOUBLE[])) AS x,
                 unnest(generate_series(1, len(e.embedding))) AS pos
          FROM embeddings e JOIN p3 ON e.vec_id = p3.doc_id)
    GROUP BY pos
),
cv AS (SELECT list(v ORDER BY pos) AS c FROM cent HAVING count(*) > 0),
rr AS (
    SELECT b.doc_id, b.bm25,
           {_cos_sql('CAST(e.embedding AS DOUBLE[])', 'cv.c')} AS prf_cos
    FROM bmt b JOIN embeddings e ON e.vec_id = b.doc_id CROSS JOIN cv
)
SELECT doc_id, bm25, prf_cos,
       row_number() OVER (ORDER BY prf_cos DESC, doc_id ASC) AS rank
FROM rr
""",
    tags=("retrieval", "bm25", "embedding", "hybrid"),
    bench=True,
)
def bm25_prf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical candidates reranked by embedding
    cosine to a pseudo-relevance-feedback centroid (Rocchio 1971 /
    blind-feedback IR; the lexical-recall + dense-precision two-stage
    shape of modern retrieval stacks). The top-3 BM25 docs' embeddings
    average into a query vector; the 20 candidates rerank by cosine.

    Plan shape / 100 TB posture: the candidate stage is the BM25 plan
    (posting-list read + TakeOrderedAndProject); everything after it
    operates on ≤20 rows — the PRF centroid is a 3-vector aggregate, it
    rides a 1-row broadcast crossJoin onto the candidates, and the
    embedding attach joins 20 ids against the (bucketable) embeddings
    table. The final row_number window sorts 20 rows — a driver-trivial
    single partition by construction, not a corpus sort.

    Centroid coverage (r13, the retrieval-anchor class): the centroid
    averages whichever of the top-3 docs HAVE embeddings — symmetric on
    both engines — and when NONE do, the centroid frame is empty (the
    empty global collect_list is filtered out here; the oracle's cv CTE
    drops its row via HAVING count(*) > 0) so the structural cross join
    empties the rerank on BOTH engines instead of Spark folding an
    empty array while DuckDB ranks NULL cosines — the exact divergence
    the sf10 value sweep caught in hybrid_rrf_fusion/
    retrieval_hard_negatives, closed here proactively."""
    from ..functions.similarity import cosine_similarity

    top = _bm25_topk(spark, sf_dir)
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    p3 = top.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(3)
    cent = (
        p3.join(e, p3["doc_id"] == e["vec_id"])
        .select(F.posexplode("e").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.round(F.avg("x"), 8).alias("v"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("s"))
        .select(F.transform("s", lambda r: r["v"]).alias("c"))
        .filter(F.size("c") > 0)
    )
    rr = (
        top.join(e, top["doc_id"] == e["vec_id"])
        .crossJoin(F.broadcast(cent))
        .select(
            "doc_id",
            "bm25",
            F.round(cosine_similarity(F.col("e"), F.col("c")), 6).alias("prf_cos"),
        )
    )
    w = Window.orderBy(F.col("prf_cos").desc(), F.col("doc_id").asc())
    return rr.select(
        "doc_id", "bm25", "prf_cos", F.row_number().over(w).alias("rank")
    )


@_register(
    "hybrid_rrf_fusion",
    # Lexical arm = the shared BM25 chain; dense arm = cosine top-20 to
    # the lexical winner's embedding; fusion = reciprocal-rank with
    # INTEGER ppb contributions (1e9 // (60+rank) — floor div on both
    # engines, zero float surface in the fused score).
    oracle=_BM25_CTES_SQL + f""",
lex AS (
    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
    FROM bmt
),
anchor AS (
    SELECT CAST(e.embedding AS DOUBLE[]) AS qe
    FROM embeddings e JOIN lex ON e.vec_id = lex.doc_id
    ORDER BY lex.lex_rank ASC LIMIT 1
),
dense AS (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS dense_rank
    FROM (
        SELECT v.vec_id,
               {_cos_sql('CAST(v.embedding AS DOUBLE[])', 'anchor.qe')} AS cosine
        FROM embeddings v CROSS JOIN anchor
    )
    ORDER BY dense_rank LIMIT 20
)
SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
       lex.lex_rank, dense.dense_rank,
       coalesce(1000000000 // (60 + lex.lex_rank), 0)
         + coalesce(1000000000 // (60 + dense.dense_rank), 0) AS rrf_ppb,
       row_number() OVER (
           ORDER BY coalesce(1000000000 // (60 + lex.lex_rank), 0)
                  + coalesce(1000000000 // (60 + dense.dense_rank), 0) DESC,
                    coalesce(lex.doc_id, dense.doc_id) ASC) AS fused_rank
FROM lex FULL JOIN dense USING (doc_id)
""",
    tags=("retrieval", "bm25", "ann", "hybrid"),
    bench=True,
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by RECIPROCAL RANK FUSION (Cormack/Clarke/
    Buettcher SIGIR'09, the standard lexical+dense combiner): the BM25
    top-20 (lexical arm) fuses with the cosine top-20 anchored at the
    lexical winner's embedding (dense arm) via rrf(d) = Σ 1/(60+rank).
    Contributions are integer ppb (1e9 div (60+r)) so the fused score
    has no float surface at all; docs in one arm only contribute that
    arm alone. Complements bm25_prf_rerank: PRF reranks WITHIN the
    lexical candidates, RRF UNIONS evidence across retrieval systems.

    Plan shape / 100 TB posture: both arms end in TakeOrderedAndProject
    (20 rows each); the anchor embedding is a 1-row broadcast; the dense
    scan is one map stage over embeddings; the full-outer fuse joins two
    20-row frames — driver-trivial by construction. On a cluster the
    dense arm swaps in the IVF tier (`ann_ivf_top10`) unchanged: RRF
    only consumes ranks.

    Anchor semantics (r13, caught by the sf10 VALUE sweep): the dense
    arm anchors at the BEST-RANKED lexical doc that HAS an embedding —
    not lex_rank=1 unconditionally. Embeddings cover only a fraction of
    documents, and at sf10 the lexical winner had none: Spark's
    crossJoin against the empty anchor emptied the dense arm while the
    oracle's scalar subquery produced NULL cosines that still ranked
    (20 vs 40 rows). Both engines now build the anchor as an ordered
    LIMIT 1 over lex⋈embeddings and attach it with a structural 0/1-row
    cross join, so a truly anchorless corpus yields an empty dense arm
    in BOTH."""
    top = _bm25_topk(spark, sf_dir)
    wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    lex = top.select("doc_id", F.row_number().over(wl).alias("lex_rank"))
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    anchor = (
        lex.join(e, F.col("doc_id") == F.col("vec_id"))
        .orderBy(F.col("lex_rank").asc())
        .limit(1)
        .select(F.col("e").alias("qe"))
    )
    from ..functions.similarity import cosine_similarity

    wd = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    dense = (
        spread(e)
        .crossJoin(F.broadcast(anchor))
        .select(
            "vec_id",
            F.round(cosine_similarity(F.col("e"), F.col("qe")), 6).alias("cosine"),
        )
        .select("vec_id", F.row_number().over(wd).alias("dense_rank"))
        .filter(F.col("dense_rank") <= 20)
        .withColumnRenamed("vec_id", "doc_id")
    )
    contrib = lambda r: F.coalesce(  # noqa: E731 — tiny shared fragment
        F.expr(f"1000000000 div (60 + {r})"), F.lit(0)
    )
    fused = (
        lex.join(dense, "doc_id", "full")
        .withColumn("rrf_ppb", contrib("lex_rank") + contrib("dense_rank"))
    )
    wf = Window.orderBy(F.col("rrf_ppb").desc(), F.col("doc_id").asc())
    return fused.select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        "rrf_ppb",
        F.row_number().over(wf).alias("fused_rank"),
    )


@_register(
    "retrieval_hard_negatives",
    # Hard-negative mining for contrastive retriever training (DPR,
    # Karpukhin et al. EMNLP 2020 §3.2: "BM25 negatives" — lexically
    # close, semantically far): lexical top-20 docs that do NOT appear
    # in the dense top-20 anchored at the lexical winner. Both arms are
    # the RRF entry's verbatim chains; the set difference is an anti
    # join, so the two registered retrieval queries pin each other.
    oracle=_BM25_CTES_SQL + f""",
lex AS (
    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
    FROM bmt
),
anchor AS (
    SELECT CAST(e.embedding AS DOUBLE[]) AS qe
    FROM embeddings e JOIN lex ON e.vec_id = lex.doc_id
    ORDER BY lex.lex_rank ASC LIMIT 1
),
dcos AS (
    SELECT v.vec_id AS doc_id,
           {_cos_sql('CAST(v.embedding AS DOUBLE[])', 'anchor.qe')} AS cosine
    FROM embeddings v CROSS JOIN anchor
),
dense AS (
    SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS dr
        FROM dcos
    ) WHERE dr <= 20
)
SELECT l.doc_id, l.lex_rank, c.cosine,
       row_number() OVER (ORDER BY l.lex_rank ASC) AS neg_rank
FROM lex l JOIN dcos c USING (doc_id) LEFT JOIN dense d USING (doc_id)
WHERE d.doc_id IS NULL
""",
    tags=("retrieval", "bm25", "ann", "contrastive", "curation"),
)
def retrieval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPR-style hard negatives: BM25 top-20 candidates anti-joined
    against the dense cosine top-20 (anchored at the lexical winner's
    embedding) — the docs a lexical index retrieves that an embedding
    model rejects, exactly the negatives contrastive retriever
    training wants. Reuses the RRF entry's arms verbatim (shared BM25
    scorer, 1-row broadcast anchor, one map-stage cosine scan); the
    difference is a 20-vs-20 anti join, driver-trivial. At 100 TB both
    arms are the same TakeOrderedAndProject-bounded plans the
    retrieval entries already run; only ranks and a 6-dp cosine cross
    the join. Anchor = best-ranked lexical doc WITH an embedding, via a
    structural 0/1-row cross join on both engines — see
    hybrid_rrf_fusion's docstring for the sf10 divergence this
    closed (Spark 0 rows vs oracle 10 when the lexical winner had no
    vector)."""
    top = _bm25_topk(spark, sf_dir)
    wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    lex = top.select("doc_id", F.row_number().over(wl).alias("lex_rank"))
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    anchor = (
        lex.join(e, F.col("doc_id") == F.col("vec_id"))
        .orderBy(F.col("lex_rank").asc())
        .limit(1)
        .select(F.col("e").alias("qe"))
    )
    from ..functions.similarity import cosine_similarity

    dcos = (
        spread(e)
        .crossJoin(F.broadcast(anchor))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_similarity(F.col("e"), F.col("qe")), 6).alias("cosine"),
        )
    )
    wd = Window.orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
    dense = (
        dcos.select("doc_id", F.row_number().over(wd).alias("dr"))
        .filter(F.col("dr") <= 20)
        .select("doc_id")
    )
    wn = Window.orderBy(F.col("lex_rank").asc())
    return (
        lex.join(dcos, "doc_id")
        .join(dense, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lex_rank",
            "cosine",
            F.row_number().over(wn).alias("neg_rank"),
        )
    )


# ===========================================================================
# Hebrew normalization (literal corpus — engine-constructed, sf-independent)
# ===========================================================================

# Public-domain Genesis 1:1-2 words with nikkud (the reference's data shape).
_HEBREW_ROWS: list[tuple[int, str]] = [
    (1, "בְּרֵאשִׁית בָּרָא אֱלֹהִים"),
    (2, "אֵת הַשָּׁמַיִם וְאֵת הָאָרֶץ"),
    (3, "וְהָאָרֶץ הָיְתָה תֹהוּ וָבֹהוּ"),
    (4, "וְחֹשֶׁךְ עַל־פְּנֵי תְהוֹם"),
    (5, "וְרוּחַ אֱלֹהִים מְרַחֶפֶת עַל־פְּנֵי הַמָּיִם"),
]

_HEBREW_VALUES = ", ".join(f"({i}, '{s}')" for i, s in _HEBREW_ROWS)

@_register(
    "hebrew_normalize",
    oracle=f"""
WITH t(id, txt) AS (VALUES {_HEBREW_VALUES})
SELECT id,
       regexp_replace(txt, '[֑-ׇ]', '', 'g') AS no_nikkud,
       trim(regexp_replace(regexp_replace(regexp_replace(txt, '[֑-ׇ]', '', 'g'),
            '[^א-ת\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS normalized,
       len(txt) - len(regexp_replace(txt, '[֐-׿]', '', 'g')) AS n_hebrew_chars
FROM t
""",
    tags=("F1", "F2", "F3", "F5", "hebrew"),
)
def hebrew_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1–F5: the reference's normalization chain
    (`fixed_hebrew_aligner.py:559-574`) on a fixed public-domain sample —
    same literal rows on both engines, so the oracle checks the regex
    semantics, not the data plumbing."""
    df = spark.createDataFrame(_HEBREW_ROWS, ["id", "txt"])
    no_nikkud = hebrew.strip_nikkud(F.col("txt"))
    # letters-only maps non-letters to space (maqaf-separated words split),
    # then whitespace-normalize — mirroring the SQL twin exactly.
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(no_nikkud, "[^א-ת\\s]", " "), r"\s+", " "
        )
    )
    return df.select(
        "id",
        no_nikkud.alias("no_nikkud"),
        normalized.alias("normalized"),
        hebrew.hebrew_char_count(F.col("txt")).alias("n_hebrew_chars"),
    )


# ===========================================================================
# Cursor alignment (applyInPandas — rows-only check)
# ===========================================================================

@_register(
    "cursor_align_tokens",
    # The per-group cursor IS SQL-expressible: a recursive CTE carries
    # the cursor across ref positions (all docs advance in lockstep on
    # ri), a LATERAL argmax scans the 5-word window, and DuckDB's
    # levenshtein() reproduces _ratio exactly (1 - dist/max(len) is the
    # same correctly-rounded double on both engines). The `sim > 0.0`
    # guard mirrors the Python loop's strict `>` against a 0.0 seed —
    # an all-zero-similarity window never matches.
    oracle=r"""
WITH RECURSIVE tok AS (
    SELECT doc_id,
           unnest(regexp_extract_all(text, '\S+')) AS word,
           generate_subscripts(regexp_extract_all(text, '\S+'), 1) - 1 AS pos
    FROM documents WHERE doc_id < 20
), ref AS (
    SELECT doc_id, pos AS ri, word AS rw FROM tok
), trans AS (
    SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS j,
           word AS tw,
           pos * 0.5 AS ts,
           pos * 0.5 + 0.4 AS te
    FROM tok WHERE pos % 3 != 0
), nref AS (
    SELECT doc_id, max(ri) AS mx FROM ref GROUP BY doc_id
), step AS (
    SELECT doc_id, 0 AS ri, 0 AS cur FROM nref
    UNION ALL
    SELECT s.doc_id, s.ri + 1,
           CASE WHEN b.sim >= 0.6 AND b.sim > 0.0 THEN b.j + 1 ELSE s.cur END
    FROM step s
    JOIN ref r ON r.doc_id = s.doc_id AND r.ri = s.ri
    JOIN nref n ON n.doc_id = s.doc_id
    LEFT JOIN LATERAL (
        SELECT t.j,
               1.0 - levenshtein(r.rw, t.tw)::DOUBLE / greatest(len(r.rw), len(t.tw)) AS sim
        FROM trans t
        WHERE t.doc_id = s.doc_id AND t.j >= s.cur AND t.j < s.cur + 5
        ORDER BY sim DESC, t.j ASC LIMIT 1
    ) b ON TRUE
    WHERE s.ri < n.mx
)
SELECT CAST(s.doc_id AS VARCHAR) AS group_key,
       CAST(s.ri AS BIGINT) AS ref_idx,
       r.rw AS ref_word,
       CASE WHEN b.sim >= 0.6 AND b.sim > 0.0 THEN b.j END AS matched_idx,
       CASE WHEN b.sim >= 0.6 AND b.sim > 0.0 THEN b.tw END AS matched_word,
       CAST(CASE WHEN b.sim >= 0.6 AND b.sim > 0.0 THEN b.ts END AS DOUBLE) AS start,
       CAST(CASE WHEN b.sim >= 0.6 AND b.sim > 0.0 THEN b.te END AS DOUBLE) AS "end",
       round(coalesce(CASE WHEN b.sim > 0.0 THEN b.sim END, 0.0), 6) AS similarity,
       CASE WHEN b.sim >= 0.6 AND b.sim > 0.0 THEN 1 ELSE 0 END AS matched
FROM step s
JOIN ref r ON r.doc_id = s.doc_id AND r.ri = s.ri
LEFT JOIN LATERAL (
    SELECT t.j, t.tw, t.ts, t.te,
           1.0 - levenshtein(r.rw, t.tw)::DOUBLE / greatest(len(r.rw), len(t.tw)) AS sim
    FROM trans t
    WHERE t.doc_id = s.doc_id AND t.j >= s.cur AND t.j < s.cur + 5
    ORDER BY sim DESC, t.j ASC LIMIT 1
) b ON TRUE
""",
    tags=("J5", "W5", "U6"),
    bench=True,
)
def cursor_align_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: sequential fuzzy cursor alignment. Reference stream = each
    doc's tokens; 'transcript' stream = the same tokens with every 3rd
    dropped and synthetic timestamps — deterministic, so the rows-only
    check is still stable across runs."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    toks = d.select(
        "doc_id", F.posexplode(text.whitespace_tokens(F.col("text"))).alias("pos", "word")
    )
    ref = toks.select("doc_id", "pos", "word")
    trans = (
        toks.filter(F.col("pos") % 3 != 0)
        .select(
            "doc_id",
            "pos",
            "word",
            (F.col("pos") * 0.5).alias("t_start"),
            (F.col("pos") * 0.5 + 0.4).alias("t_end"),
        )
    )
    return alignment.fuzzy_cursor_align(
        ref,
        trans,
        group_col="doc_id",
        ref_order_col="pos",
        ref_word_col="word",
        trans_order_col="pos",
        trans_word_col="word",
        trans_start_col="t_start",
        trans_end_col="t_end",
        window=5,
        threshold=0.6,
    )


@_register(
    "corpus_curation_pipeline",
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang, text, {_TOKENS_SQL} AS toks FROM documents
), s AS (
    SELECT doc_id, lang, text,
           len(toks) AS n_tokens,
           round(coalesce(len(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g'))
                    / nullif(len(regexp_replace(text, '\\s', '', 'g')), 0), 0), 6) AS punct_ratio,
           len(regexp_extract_all(lower(text), '\\b({_EN_MARKERS})\\b')) AS s_en,
           len(regexp_extract_all(lower(text), '\\b({_DE_MARKERS})\\b')) AS s_de,
           len(regexp_extract_all(lower(text), '\\b({_FR_MARKERS})\\b')) AS s_fr,
           len(regexp_extract_all(lower(text), '\\b({_ES_MARKERS})\\b')) AS s_es,
           len(text) - len(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) AS s_zh
    FROM t
), p AS (
    SELECT *,
           CASE
             WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
             WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
             WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
             WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
             ELSE 'zh'
           END AS predicted_lang
    FROM s
), gated AS (
    SELECT * FROM p
    WHERE n_tokens BETWEEN 20 AND 90
      AND punct_ratio <= 0.2
      AND predicted_lang = lang
), kept AS (
    SELECT doc_id, lang, n_tokens, md5(text) AS digest,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM gated
)
SELECT doc_id, lang, n_tokens, digest FROM kept WHERE rn = 1
""",
    tags=("text-analysis", "dedup", "curation", "pipeline"),
    bench=True,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data curation flow composed as ONE plan:
    quality gates (token-count band + punctuation ratio) → language
    confirmation (n-gram heuristic must agree with the labeled lang) →
    exact dedup keep-first — the cheap tiers every corpus pass runs
    before MinHash/embedding dedup. All stages are single-pass JVM
    column expressions feeding one window; the only shuffle is the
    dedup's hash-partitioned row_number on the md5 digest. On this
    synthetic corpus the dedup tier keeps everything (no exact dups
    exist — the oracle proves the semantics, not the hit rate); the
    gates drop real rows. No reference analog: this is the
    training-pipeline surface the contract adds beyond the reference."""
    d = spread(T(spark, sf_dir, "documents"))
    c = F.col("text")
    scored = d.select(
        "doc_id",
        "lang",
        "text",
        text.whitespace_token_count(c).alias("n_tokens"),
        text.punct_ratio(c).alias("punct_ratio"),
        text.predict_lang(c).alias("predicted_lang"),
    )
    gated = scored.filter(
        F.col("n_tokens").between(20, 90)
        & (F.col("punct_ratio") <= 0.2)
        & (F.col("predicted_lang") == F.col("lang"))
    )
    kept = dedup.exact_dedup(gated, ["text"], "doc_id")
    return kept.select(
        "doc_id", "lang", "n_tokens", F.md5(F.col("text")).alias("digest")
    )


@_register(
    "doc_chunks_udtf",
    oracle="""
WITH t AS (
    -- split then drop empties == Python strip+split: identical token
    -- lists for text with leading/trailing tabs/newlines too
    SELECT doc_id,
           regexp_extract_all(text, '\\S+') AS toks
    FROM documents WHERE doc_id < 100 AND len(trim(text)) > 0
), c AS (
    SELECT doc_id, toks,
           unnest(range(CAST(ceil(len(toks) / 10.0) AS INT))) AS chunk_idx
    FROM t
)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(toks[chunk_idx * 10 + 1 : chunk_idx * 10 + 10], ' ') AS chunk,
       CAST(least(10, len(toks) - chunk_idx * 10) AS INT) AS n_tokens
FROM c
""",
    tags=("U5", "U-udtf", "chunking", "text-analysis"),
)
def doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking through Spark's Python UDTF surface
    (§2.9): each document expands to fixed 10-token training windows via
    a LATERAL table-function join. The oracle recomputes the chunks with
    pure SQL list slicing — proving the imperative row-to-rows UDTF
    agrees with the declarative form. Capped to doc_id<100: the UDTF is
    deliberately the slow-path demonstration, not the hot-path tool
    (word_ngrams is the codegen HOF equivalent)."""
    d = T(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 100) & (F.length(F.trim(F.col("text"))) > 0)
    )
    chunker = text.make_chunker_udtf(chunk_tokens=10)
    spark.udtf.register("chunk_documents", chunker)
    d.select("doc_id", "text").createOrReplaceTempView("v_docs_to_chunk")
    return spark.sql(
        "SELECT c.* FROM v_docs_to_chunk, "
        "LATERAL chunk_documents(doc_id, text) c"
    )


@_register(
    "image_neardup_pipeline",
    oracle="""
WITH h AS (
    SELECT doc_id, md5(text) AS hx FROM documents WHERE doc_id < 300
), b AS (
    SELECT doc_id,
           [ (strpos('0123456789abcdef', substr(hx, 2*i+1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(hx, 2*i+2, 1)) - 1)
             for i in range(4, 12) ] AS bys
    FROM h
), v AS (
    SELECT doc_id, list_transform(bys, x -> round(x / 255.0, 6)) AS e FROM b
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
             6) AS cosine
FROM v a JOIN v b ON a.doc_id < b.doc_id
WHERE round(list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
            6) >= 0.97
""",
    tags=("U8", "multimodal", "dedup", "embedding", "pipeline"),
)
def image_neardup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup composed end-to-end WITH a full oracle:
    binary image payload → U8 feature extraction (digest-derived fake,
    `operators.multimodal.image_features`) → blocked-GEMM cosine pairs.
    The usual blocker — DuckDB's md5 digests VARCHAR, not blobs — is
    sidestepped by CONSTRUCTING each image's bytes as the document's
    UTF-8 text, so the oracle recomputes the very same digest bytes from
    md5 hex pairs and the whole image dedup tier (mapInPandas feature
    UDF included) lands under the value-hash gate instead of rows-only.
    doc_id<300 bounds the exact all-pairs tier; the LSH prefilter is the
    registered scale path for embeddings proper."""
    from ..operators.multimodal import image_features

    # text IS NOT NULL mirrors the oracle, where md5(NULL) = NULL drops
    # the row; without it Spark would hash NULL as b"" and diverge
    d = T(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & F.col("text").isNotNull()
    )
    files = d.select(
        F.col("doc_id").cast("string").alias("path"),
        F.encode("text", "UTF-8").alias("content"),
    )
    feats = image_features(files, fake=True, feature_dim=8)
    vecs = feats.select(
        F.col("path").cast("long").alias("vec_id"),
        F.col("feature").alias("embedding"),
    )
    return dedup.embedding_near_dup_pairs_blocked(
        vecs, "vec_id", "embedding", threshold=0.97
    )


# ===========================================================================
# Deterministic split / stratified sampling (training-data curation)
# ===========================================================================

_SAMPLE_RATES = {"en": 0.4, "zh": 1.0, "es": 1.0, "de": 0.8, "fr": 0.8}
_SAMPLE_DEFAULT = 0.25
_RATE_CASE_SQL = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {round(v * 1000)}" for k, v in _SAMPLE_RATES.items()
) + f" ELSE {round(_SAMPLE_DEFAULT * 1000)} END"


@_register(
    "doc_split_sample",
    oracle=f"""
WITH b AS (
    SELECT doc_id, lang,
           {_sql_token_hash("'split|' || CAST(doc_id AS VARCHAR)")} % 1000 AS split_bucket,
           {_sql_token_hash("'sample|' || CAST(doc_id AS VARCHAR)")} % 1000 AS sample_bucket
    FROM documents
)
SELECT doc_id, lang, split_bucket,
       CASE WHEN split_bucket < 800 THEN 'train'
            WHEN split_bucket < 900 THEN 'valid'
            ELSE 'test' END AS split,
       sample_bucket < {_RATE_CASE_SQL} AS sampled
FROM b
""",
    tags=("sampling", "split", "curation"),
    bench=True,
)
def doc_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/valid/test assignment + per-language
    downsampling as pure map-side hash arithmetic (no RNG, no shuffle —
    the only way sampling stays stable across task retries at 100 TB).
    The oracle replays the salted polynomial hash, so both the split
    boundaries and every per-row keep/drop decision are value-checked."""
    from ..operators import sampling

    d = spread(T(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        "lang",
        sampling.hash_bucket(F.col("doc_id"), "split").alias("split_bucket"),
        sampling.assign_split(F.col("doc_id")).alias("split"),
        sampling.stratified_sample_flag(
            F.col("doc_id"), F.col("lang"), _SAMPLE_RATES, _SAMPLE_DEFAULT
        ).alias("sampled"),
    )


@_register(
    "corpus_mixture_plan",
    # Replays the two-pass plan exactly: per-source counts, the
    # temperature normalizer as a scalar CTE, floor-ppm rates, and the
    # salted-hash acceptance count.
    oracle=f"""
WITH sc AS (SELECT source AS "group", count(*) AS n_docs FROM documents GROUP BY source),
tot AS (SELECT sum(pow(n_docs, 0.5)) AS z, sum(n_docs) AS n FROM sc),
r AS (
    SELECT "group", n_docs,
           round(pow(n_docs, 0.5) / z, 6) AS weight,
           CAST(round(least(1.0, (pow(n_docs, 0.5) / z) * (0.5 * n) / n_docs)
                      * 1000000) AS BIGINT) AS rate_ppm
    FROM sc CROSS JOIN tot
),
acc AS (
    SELECT d.source AS "group", count(*) AS n_accepted
    FROM documents d JOIN r ON d.source = r."group"
    WHERE {_sql_token_hash("'mix|' || CAST(doc_id AS VARCHAR)")} % 1000000 < rate_ppm
    GROUP BY d.source
)
SELECT r."group", r.n_docs, r.weight, r.rate_ppm,
       coalesce(acc.n_accepted, 0) AS n_accepted
FROM r LEFT JOIN acc USING ("group")
""",
    tags=("sampling", "mixture", "curation", "two-pass"),
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source-mixture resampling (Arivazhagan et
    al. 2019 §4.2; the fixed-weight mixture shape of The Pile/Gopher):
    per-source acceptance rates toward weight ∝ n^0.5 at a 0.5× target
    size, applied via the deterministic salted-hash test. The per-source
    audit record a training run stores next to its filtered corpus."""
    from ..operators import sampling

    d = spread(T(spark, sf_dir, "documents"))
    return sampling.mixture_plan(
        d, "doc_id", "source", alpha=0.5, target_frac=0.5
    )


# ===========================================================================
# PII scrubbing (training-data curation)
# ===========================================================================

@_register(
    "doc_pii_redact",
    oracle="""
WITH aug AS (
    SELECT doc_id,
           text || ' Contact ' || source || '-' || CAST(doc_id AS VARCHAR)
                || '@mail.example.com or +12-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' via https://' || source || '.example.org/doc/'
                || CAST(doc_id AS VARCHAR) AS t
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, 'https?://[^\\s]+')) AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '\\+\\d{1,3}-\\d{3}-\\d{4}')) AS BIGINT) AS n_phones,
       regexp_replace(
           regexp_replace(
               regexp_replace(t, 'https?://[^\\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\+\\d{1,3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS redacted
FROM aug
""",
    tags=("pii", "scrub", "curation"),
    bench=True,
)
def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count and redact URLs, emails, and phone numbers.

    The synthetic corpus carries no PII, so each document is augmented
    with a deterministic contact line derived from (source, doc_id) —
    both engines build the identical string, then the oracle re-runs the
    identical RE2-safe patterns, value-checking counts and redacted
    bodies. The scrub itself is a fused chain of JVM regexp_replace
    calls: map-only, no shuffle, whole-stage codegen."""
    d = spread(T(spark, sf_dir, "documents"))
    aug = F.concat(
        F.col("text"),
        F.lit(" Contact "),
        F.col("source"),
        F.lit("-"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +12-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" via https://"),
        F.col("source"),
        F.lit(".example.org/doc/"),
        F.col("doc_id").cast("string"),
    )
    return d.select(
        "doc_id",
        text.pii_count(aug, "url").cast("long").alias("n_urls"),
        text.pii_count(aug, "email").cast("long").alias("n_emails"),
        text.pii_count(aug, "phone").cast("long").alias("n_phones"),
        text.redact_pii(aug).alias("redacted"),
    )


# ===========================================================================
# Benchmark-contamination audit (training-data curation)
# ===========================================================================

@_register(
    "benchmark_contamination",
    oracle="""
WITH d AS (
    SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
    FROM documents
), g AS (
    -- same short-doc shingle rule as the jaccard oracle / word_ngrams
    SELECT doc_id, doc_id % 17 = 3 AS is_bench,
           CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
                WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                ELSE list_distinct([list_aggr(t[i:i+2], 'string_agg', ' ')
                                    for i in range(1, len(t) - 1)]) END AS toks
    FROM d
), bset AS (
    SELECT DISTINCT unnest(toks) AS gg FROM g WHERE is_bench
), cand AS (
    SELECT doc_id, unnest(toks) AS gg FROM g WHERE NOT is_bench
)
SELECT doc_id,
       count(*) AS n_ngrams,
       CAST(sum(CASE WHEN b.gg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
       round(sum(CASE WHEN b.gg IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 6) AS contamination_ratio
FROM cand LEFT JOIN bset b USING (gg)
GROUP BY doc_id
""",
    tags=("contamination", "curation", "broadcast"),
    bench=True,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination audit: docs whose trigrams leak from the
    held-out 'benchmark' slice (doc_id % 17 == 3 stands in for MMLU-like
    suites). Benchmark n-grams broadcast; corpus side is one explode +
    one agg shuffle — the only shape that survives a 100 TB corpus."""
    d = spread(T(spark, sf_dir, "documents"))
    bench_docs = d.filter(F.col("doc_id") % 17 == 3)
    cand_docs = d.filter(F.col("doc_id") % 17 != 3)
    return (
        dedup.ngram_contamination(cand_docs, bench_docs, "doc_id", "text", n=3)
        .withColumnRenamed("id", "doc_id")
    )


# ===========================================================================
# Gopher-style repetition / quality gate (training-data curation)
# ===========================================================================

# Shared oracle fragment: documents → m(doc_id, n_tokens, mean_token_len,
# top_bigram_frac, dup_trigram_frac) — the Gopher-rule inputs, reused by
# the funnel report below.
def _quality_m_sql(src: str = "documents") -> str:
    """The quality-metric CTE chain (d → g → m) over any (doc_id, text)
    source — shared by the gopher gate, the funnel, and the incremental
    delta gate so all three replay identical list arithmetic."""
    return _QUALITY_M_TEMPLATE.replace("FROM __SRC__", f"FROM {src}")


_QUALITY_M_TEMPLATE = """
d AS (
    SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
    FROM __SRC__
), g AS (
    SELECT doc_id, len(t) AS n_tokens,
           round(coalesce(list_sum(list_transform(t, x -> len(x)))
                          / nullif(len(t), 0), 0), 6) AS mean_token_len,
           CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
                ELSE [list_aggr(t[i:i+1], 'string_agg', ' ')
                      for i in range(1, len(t))] END AS g2,
           CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                ELSE [list_aggr(t[i:i+2], 'string_agg', ' ')
                      for i in range(1, len(t) - 1)] END AS g3
    FROM d
), m AS (
    SELECT doc_id, n_tokens, mean_token_len,
           round(list_max(list_transform(list_distinct(g2),
                     x -> len(list_filter(g2, y -> y = x))))
                 / len(g2), 6) AS top_bigram_frac,
           round(coalesce(list_sum(list_filter(
                     list_transform(list_distinct(g3),
                         x -> len(list_filter(g3, y -> y = x))),
                     c -> c > 1)), 0) / len(g3), 6) AS dup_trigram_frac
    FROM g
)"""

_QUALITY_M_SQL = _quality_m_sql()

#: the keep decision over m's columns (SQL text shared by both queries)
_QUALITY_KEEP_SQL = (
    "(top_bigram_frac <= 0.1 AND dup_trigram_frac <= 0.1"
    " AND n_tokens BETWEEN 30 AND 10000"
    " AND mean_token_len BETWEEN 3 AND 10)"
)


@_register(
    "gopher_quality_flags",
    oracle=f"""
WITH {_QUALITY_M_SQL}
SELECT doc_id, n_tokens, mean_token_len, top_bigram_frac, dup_trigram_frac,
       top_bigram_frac <= 0.1 AND dup_trigram_frac <= 0.1 AS pass_repetition,
       n_tokens BETWEEN 30 AND 10000 AS pass_length,
       mean_token_len BETWEEN 3 AND 10 AS pass_word_len,
       (top_bigram_frac <= 0.1 AND dup_trigram_frac <= 0.1)
           AND n_tokens BETWEEN 30 AND 10000
           AND mean_token_len BETWEEN 3 AND 10 AS keep
FROM m
""",
    tags=("quality", "repetition", "curation"),
    bench=True,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-aware quality gate in the style of Gopher's rules
    (Rae et al. 2021, "Scaling Language Models", appendix A1.1): most-
    common-bigram fraction, duplicate-trigram fraction, token count and
    mean word length bounds, folded into one keep decision. All per-row
    higher-order functions — the 100 TB filter pass is map-only with
    no Python and no shuffle; the oracle reruns identical list
    arithmetic."""
    d = spread(T(spark, sf_dir, "documents"))
    m = _quality_metrics(d)
    pass_rep = (F.col("top_bigram_frac") <= 0.1) & (F.col("dup_trigram_frac") <= 0.1)
    pass_len = F.col("n_tokens").between(30, 10000)
    pass_wl = F.col("mean_token_len").between(3, 10)
    return m.select(
        "*",
        pass_rep.alias("pass_repetition"),
        pass_len.alias("pass_length"),
        pass_wl.alias("pass_word_len"),
        _quality_keep().alias("keep"),
    )


# ===========================================================================
# Sequence packing plan (training-data prep)
# ===========================================================================

@_register(
    "token_pack_plan",
    oracle=f"""
WITH b AS (
    SELECT doc_id,
           CASE WHEN {_sql_token_hash("'split|' || CAST(doc_id AS VARCHAR)")} % 1000 < 800 THEN 'train'
                WHEN {_sql_token_hash("'split|' || CAST(doc_id AS VARCHAR)")} % 1000 < 900 THEN 'valid'
                ELSE 'test' END AS split,
           CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
           {_sql_token_hash("'pack|' || CAST(doc_id AS VARCHAR)")} AS ok
    FROM documents
), w AS (
    SELECT split, doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY split ORDER BY ok, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - n_tokens AS start_offset
    FROM b
)
SELECT split, doc_id, n_tokens, start_offset,
       CAST(floor(start_offset / 512) AS BIGINT) AS pack_id,
       floor(start_offset / 512)
           != floor((start_offset + n_tokens - 1) / 512) AS straddles_boundary
FROM w
""",
    tags=("packing", "curation", "window"),
    bench=True,
)
def token_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per split, documents lay
    end-to-end in deterministic salted-hash order and every 512 tokens
    starts a new pack. The output is a layout PLAN (start offsets, pack
    ids, boundary-straddle flags) — one window shuffle per split, and
    the oracle replays offsets exactly, so the whole layout is
    value-checked instead of spot-checked."""
    from ..operators import sampling

    d = spread(T(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        sampling.assign_split(F.col("doc_id")).alias("split"),
        text.whitespace_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return sampling.pack_plan(base, "doc_id", "n_tokens", ["split"], budget=512)


# ===========================================================================
# Product quantization ANN (memory-bounded scale tier)
# ===========================================================================

def _pq_d2_sql(a: str, b: str, j: int, m: int = 4) -> str:
    """Squared L2 between subvectors j of a and b via the dot identity
    ``(a·a − 2·a·b) + b·b`` on list slices — no lambda (DuckDB lambdas
    can't capture LATERAL correlations), and list_dot_product replays
    the numpy kernel's dimension-sequential accumulation exactly.
    Subspace bounds derive from len(a) so the oracle survives a
    testdata regeneration with a different embedding dim (the Spark
    side already adapts)."""
    lo = f"(len({a}) / {m}) * {j} + 1"
    hi = f"(len({a}) / {m}) * {j + 1}"
    sa, sb = f"{a}[{lo}:{hi}]", f"{b}[{lo}:{hi}]"
    return (
        f"((list_dot_product({sa}, {sa}) - 2 * list_dot_product({sa}, {sb}))"
        f" + list_dot_product({sb}, {sb}))"
    )


def _pq_code_lateral(j: int) -> str:
    return (
        f"JOIN LATERAL (SELECT cidx FROM cb "
        f"ORDER BY {_pq_d2_sql('v.e', 'cb.e', j)} ASC, cidx ASC LIMIT 1) b{j} ON TRUE"
    )


@_register(
    "ann_pq_top10",
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cb AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, e
    FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)
),
codes AS (
    SELECT v.vec_id AS id,
           b0.cidx AS c0, b1.cidx AS c1, b2.cidx AS c2, b3.cidx AS c3
    FROM v
    {_pq_code_lateral(0)}
    {_pq_code_lateral(1)}
    {_pq_code_lateral(2)}
    {_pq_code_lateral(3)}
),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
s AS (
    SELECT q.query_id, c.id AS neighbor_id,
           round({_pq_d2_sql('q.qe', 'k0.e', 0)}
               + {_pq_d2_sql('q.qe', 'k1.e', 1)}
               + {_pq_d2_sql('q.qe', 'k2.e', 2)}
               + {_pq_d2_sql('q.qe', 'k3.e', 3)}, 6) AS adc_dist
    FROM codes c
    CROSS JOIN q
    JOIN cb k0 ON k0.cidx = c.c0
    JOIN cb k1 ON k1.cidx = c.c1
    JOIN cb k2 ON k2.cidx = c.c2
    JOIN cb k3 ON k3.cidx = c.c3
    WHERE c.id <> q.query_id
),
r AS (
    SELECT query_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM s
)
SELECT query_id, neighbor_id, adc_dist, rank FROM r WHERE rank <= 10
""",
    tags=("ann", "pq", "embedding"),
    bench=True,
)
def ann_pq_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 — the memory tier of ANN: each
    corpus vector compresses to 4 subspace codes against a
    deterministic 16-centroid codebook, queries rank candidates by
    table-lookup sums. The oracle replays encoding (lateral argmin per
    subspace), the ADC arithmetic, and the tiebreaks exactly, so the
    entire approximate index — not just its output shape — sits under
    the value-hash gate."""
    e = T(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return ann.pq_topk(
        e, queries, "vec_id", "embedding", k=10, m=4, ncent=16
    )


_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


@_register(
    "table_profile_documents",
    # dbt/Deequ-style column profile — the first report any ingest runs:
    # per column, row count, null count, exact distinct count. (At
    # 100 TB the distinct of a text column runs on digests; the count
    # is identical, so the report shape doesn't change.)
    oracle="\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, count(*) AS n_rows, "
        f"count(*) - count({c}) AS n_null, "
        f"count(DISTINCT {c}) AS n_distinct FROM documents"
        for c in _PROFILE_COLS
    ),
    tags=("quality", "profile", "audit", "curation"),
)
def table_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile report over documents: one ROW per column with
    row/null/exact-distinct counts — the Deequ-class data-quality
    gate. ONE scan: all fifteen measures aggregate in a single pass
    (count + conditional nulls + distincts via Spark's Expand), then
    ``stack`` melts the 1-row result into the per-column report —
    driver-trivial, no per-column rescans."""
    d = T(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__dist"),
        ]
    one = d.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__null, {c}__dist" for c in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(column_name, n_rows, n_null, n_distinct)"
        )
    )


@_register(
    "sq8_reconstruction_report",
    # The OTHER embedding-compression tier (FAISS SQ8 / scalar
    # quantization): per-dimension min/max train an 8-bit affine code;
    # the report certifies reconstruction error per dimension. Every
    # arithmetic step is the same left-associated IEEE expression on
    # both engines, and error statistics are integer micro-units, so
    # the whole quantizer sits under the value-hash gate. Constant
    # dimensions (span 0) code to 0 with zero error by definition.
    oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
ex AS (
    SELECT vec_id, generate_subscripts(e, 1) - 1 AS dim, unnest(e) AS x FROM v
),
d AS (SELECT dim, min(x) AS dmin, max(x) AS dmax FROM ex GROUP BY dim),
c AS (
    SELECT ex.dim, ex.x, d.dmin, d.dmax, d.dmax - d.dmin AS span,
           CASE WHEN d.dmax - d.dmin = 0 THEN 0
                ELSE CAST(floor((ex.x - d.dmin) * 255 / (d.dmax - d.dmin) + 0.5)
                          AS BIGINT) END AS code
    FROM ex JOIN d USING (dim)
),
r AS (
    SELECT dim, dmin, dmax,
           CASE WHEN span = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(abs(x - (dmin + (code * span) / 255)) * 1000000
                                + 0.5) AS BIGINT) END AS err_micro
    FROM c
)
SELECT CAST(dim AS INTEGER) AS dim,
       round(min(dmin), 6) AS dmin, round(min(dmax), 6) AS dmax,
       CAST(sum(err_micro) // count(*) AS BIGINT) AS mean_abs_err_micro,
       max(err_micro) AS max_abs_err_micro
FROM r GROUP BY dim
""",
    tags=("ann", "quantization", "certificate", "embedding"),
)
def sq8_reconstruction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization (SQ8) certificate: train per-dimension
    min/max, code every value to 8 bits, and report per-dimension
    reconstruction error in integer micro-units — the memory tier that
    beats PQ on accuracy at 4× the bytes, certified the same way.
    Spark-first: NO Python at all — one posexplode, a map-side-combined
    (dim) min/max aggregate (64 rows — the model artifact), a broadcast
    join back, and exact integer statistics. At 100 TB the explode is
    the linear pass any per-dimension trainer pays; everything after
    the combine is dimension-sized."""
    e = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    ex = e.select(F.posexplode("e").alias("dim", "x"))
    d = ex.groupBy("dim").agg(F.min("x").alias("dmin"), F.max("x").alias("dmax"))
    c = ex.join(F.broadcast(d), "dim").select(
        "dim",
        "x",
        "dmin",
        "dmax",
        F.expr("dmax - dmin").alias("span"),
        F.expr(
            "CASE WHEN dmax - dmin = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(floor((x - dmin) * 255 / (dmax - dmin) + 0.5) AS BIGINT) END"
        ).alias("code"),
    )
    r = c.select(
        "dim",
        "dmin",
        "dmax",
        F.expr(
            "CASE WHEN span = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(floor(abs(x - (dmin + (code * span) / 255)) * 1000000"
            " + 0.5) AS BIGINT) END"
        ).alias("err_micro"),
    )
    return r.groupBy("dim").agg(
        F.round(F.min("dmin"), 6).alias("dmin"),
        F.round(F.min("dmax"), 6).alias("dmax"),
        F.expr("sum(err_micro) div count(1)").alias("mean_abs_err_micro"),
        F.max("err_micro").alias("max_abs_err_micro"),
    )


def _ivfpq_err_lateral(j: int) -> str:
    return (
        f"JOIN LATERAL (SELECT cidx, {_pq_d2_sql('a.res', 'cb.e', j)} AS e2 "
        f"FROM cb ORDER BY e2 ASC, cidx ASC LIMIT 1) b{j} ON TRUE"
    )


@_register(
    "pq_reconstruction_report",
    # The compression tier's accuracy certificate: per coarse cell, how
    # much signal the m-code PQ representation loses. Per-vector error
    # is the sum of the encoder's own subspace minima, accumulated
    # left-associatively on both engines and floored to micro-units —
    # the floats are bit-identical by the proven subspace kernel, so
    # the integers are too.
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cells AS (
    SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT 8
),
assigned AS (
    SELECT id, e, cell,
           list_transform(generate_series(1, len(e)), i -> e[i] - ce[i]) AS res
    FROM (
        SELECT v.vec_id AS id, v.e, b.cell, b.ce
        FROM v
        JOIN LATERAL (
            SELECT c.cell, c.ce, {_cos_sql('v.e', 'c.ce')} AS sim
            FROM cells c ORDER BY sim DESC, c.cell ASC LIMIT 1
        ) b ON TRUE
    )
),
cb AS (
    SELECT row_number() OVER (ORDER BY id) - 1 AS cidx, res AS e
    FROM (SELECT id, res FROM assigned ORDER BY id LIMIT 16 OFFSET 8)
),
errs AS (
    SELECT a.id, a.cell,
           CAST(floor((((b0.e2 + b1.e2) + b2.e2) + b3.e2) * 1000000 + 0.5)
                AS BIGINT) AS err_micro
    FROM assigned a
    {_ivfpq_err_lateral(0)}
    {_ivfpq_err_lateral(1)}
    {_ivfpq_err_lateral(2)}
    {_ivfpq_err_lateral(3)}
)
SELECT cell, count(*) AS n_vectors,
       CAST(sum(err_micro) // count(*) AS BIGINT) AS mean_err_micro,
       max(err_micro) AS max_err_micro
FROM errs GROUP BY cell
""",
    tags=("ann", "pq", "certificate", "embedding"),
)
def pq_reconstruction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-error report for the IVFADC tier
    (operators.ann.ivfpq_reconstruction): per coarse cell, the count,
    integer-mean and max of each vector's ADC self-distance to its own
    PQ codes — the number an operator watches to size m/ncent before
    trusting the compressed index at 100 TB (the same certificate
    discipline as sketch_accuracy_certificates for HLL). One map-only
    Arrow pass plus one k-row aggregate; no shuffle of vectors."""
    e = T(spark, sf_dir, "embeddings")
    errs = ann.ivfpq_reconstruction(
        e, "vec_id", "embedding", num_cells=8, m=4, ncent=16
    )
    return errs.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.expr("sum(err_micro) div count(1)").alias("mean_err_micro"),
        F.max("err_micro").alias("max_err_micro"),
    )


def _ivfpq_code_lateral(j: int) -> str:
    return (
        f"JOIN LATERAL (SELECT cidx FROM cb "
        f"ORDER BY {_pq_d2_sql('a.res', 'cb.e', j)} ASC, cidx ASC LIMIT 1) b{j} ON TRUE"
    )


@_register(
    "ann_ivfpq_top10",
    # The COMPOSED index (IVFADC): every stage — coarse assignment,
    # residual, residual-PQ encoding, probe selection, ADC over probed
    # cells — replays in SQL. Residuals are plain elementwise list
    # subtraction (the lateral's ce is re-selected to a regular column
    # first: DuckDB lambdas can capture row columns but not LATERAL
    # correlations); everything else reuses the proven ivf/pq kernels.
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cells AS (
    SELECT vec_id AS cell, e AS ce FROM v ORDER BY vec_id LIMIT 8
),
assigned AS (
    SELECT id, e, cell,
           list_transform(generate_series(1, len(e)), i -> e[i] - ce[i]) AS res
    FROM (
        SELECT v.vec_id AS id, v.e, b.cell, b.ce
        FROM v
        JOIN LATERAL (
            SELECT c.cell, c.ce, {_cos_sql('v.e', 'c.ce')} AS sim
            FROM cells c ORDER BY sim DESC, c.cell ASC LIMIT 1
        ) b ON TRUE
    )
),
cb AS (
    SELECT row_number() OVER (ORDER BY id) - 1 AS cidx, res AS e
    FROM (SELECT id, res FROM assigned ORDER BY id LIMIT 16 OFFSET 8)
),
codes AS (
    SELECT a.id, a.cell,
           b0.cidx AS c0, b1.cidx AS c1, b2.cidx AS c2, b3.cidx AS c3
    FROM assigned a
    {_ivfpq_code_lateral(0)}
    {_ivfpq_code_lateral(1)}
    {_ivfpq_code_lateral(2)}
    {_ivfpq_code_lateral(3)}
),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
probes AS (
    SELECT query_id, cell,
           list_transform(generate_series(1, len(qe)), i -> qe[i] - ce[i]) AS qres
    FROM (
        SELECT q.query_id, q.qe, c.cell, c.ce,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_cos_sql('q.qe', 'c.ce')} DESC, c.cell ASC) AS pr
        FROM q, cells c
    ) WHERE pr <= 2
),
s AS (
    SELECT p.query_id, c.id AS neighbor_id,
           round({_pq_d2_sql('p.qres', 'k0.e', 0)}
               + {_pq_d2_sql('p.qres', 'k1.e', 1)}
               + {_pq_d2_sql('p.qres', 'k2.e', 2)}
               + {_pq_d2_sql('p.qres', 'k3.e', 3)}, 6) AS adc_dist
    FROM codes c
    JOIN probes p USING (cell)
    JOIN cb k0 ON k0.cidx = c.c0
    JOIN cb k1 ON k1.cidx = c.c1
    JOIN cb k2 ON k2.cidx = c.c2
    JOIN cb k3 ON k3.cidx = c.c3
    WHERE c.id <> p.query_id
),
r AS (
    SELECT query_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM s
)
SELECT query_id, neighbor_id, adc_dist, rank FROM r WHERE rank <= 10
""",
    tags=("ann", "ivf", "pq", "embedding"),
    bench=True,
)
def ann_ivfpq_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-10 (operators.ann.ivfpq_topk) — the composed
    production vector index: an 8-cell inverted file prunes candidates
    to 2 probed cells per query, and candidates rank by asymmetric
    distance against 4-subspace PQ codes of their cell RESIDUALS
    (16 deterministic residual centroids). IVF cuts candidates scanned,
    PQ cuts bytes per candidate — at 100 TB the scan reads
    nprobe/num_cells of a ~dim/m-times-smaller code table. One bounded
    codebook collect + one map-only assign-and-encode pass; the
    candidate scan is a broadcast hash join on the probed cells."""
    e = T(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return ann.ivfpq_topk(
        e, queries, "vec_id", "embedding",
        k=10, num_cells=8, nprobe=2, m=4, ncent=16,
    )


# ===========================================================================
# Curation funnel report (quality gate → exact dedup → sampling)
# ===========================================================================

@_register(
    "curation_funnel",
    oracle=f"""
WITH {_QUALITY_M_SQL},
k AS (
    SELECT d0.doc_id, d0.lang, d0.text, m.n_tokens,
           {_QUALITY_KEEP_SQL} AS keep_q
    FROM documents d0 JOIN m USING (doc_id)
),
dd AS (
    SELECT *, row_number() OVER (PARTITION BY md5(text), keep_q
                                 ORDER BY doc_id) AS rn
    FROM k
),
s AS (
    SELECT lang, n_tokens, keep_q,
           keep_q AND rn = 1 AS keep_d,
           keep_q AND rn = 1
               AND {_sql_token_hash("'sample|' || CAST(doc_id AS VARCHAR)")} % 1000
                   < {_RATE_CASE_SQL} AS keep_s
    FROM dd
)
SELECT lang,
       count(*) AS n_total,
       CAST(sum(CASE WHEN keep_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN keep_d THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
       CAST(sum(CASE WHEN keep_s THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(sum(CASE WHEN keep_s THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_sampled
FROM s GROUP BY lang
""",
    tags=("curation", "funnel", "report"),
    bench=True,
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-training-run report: per language, how many documents
    survive each curation stage — Gopher quality gate, exact dedup
    (keep-first among quality passers), deterministic per-language
    sampling — and the token yield of the final cut. One window for the
    dedup ranks and one aggregation; every stage reuses the exact
    operators registered individually, so the funnel's numbers are the
    composition the individual oracles already pin."""
    from ..operators import sampling

    d = spread(T(spark, sf_dir, "documents"))
    m = _quality_metrics(d, extra=("lang", "text"))
    k = m.withColumn("keep_q", _quality_keep())
    w = Window.partitionBy(F.md5("text"), "keep_q").orderBy("doc_id")
    s = k.withColumn("rn", F.row_number().over(w)).select(
        "lang",
        "n_tokens",
        "keep_q",
        (F.col("keep_q") & (F.col("rn") == 1)).alias("keep_d"),
        (
            F.col("keep_q")
            & (F.col("rn") == 1)
            & sampling.stratified_sample_flag(
                F.col("doc_id"), F.col("lang"), _SAMPLE_RATES, _SAMPLE_DEFAULT
            )
        ).alias("keep_s"),
    )
    z = F.lit(0).cast("long")
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("keep_q"), 1).otherwise(0)).cast("long").alias("n_quality"),
        F.sum(F.when(F.col("keep_d"), 1).otherwise(0)).cast("long").alias("n_dedup"),
        F.sum(F.when(F.col("keep_s"), 1).otherwise(0)).cast("long").alias("n_sampled"),
        F.sum(F.when(F.col("keep_s"), F.col("n_tokens")).otherwise(z)).cast("long").alias("tokens_sampled"),
    )


# ===========================================================================
# Incremental dedup: new batch vs standing index (production pattern)
# ===========================================================================

@_register(
    "incremental_simhash_dedup",
    # Width is COUNT-DERIVED with the same formula as
    # simhash_hamming_pairs (one 31-bit fp fragment serves every width
    # via fp % 2^bits); batch/index split after the width CTE.
    oracle=f"""
WITH {_simhash_fp_sql(31).lstrip()},
p AS (
    SELECT least({_HAMMING_MAX_BITS}, greatest({_HAMMING_MIN_BITS},
           4 * CAST(ceil(({_HAMMING_MIN_BITS} + ceil(log2(greatest(count(*), 1)
               / {_HAMMING_BASE_DOCS}.0))) / 4.0) AS INTEGER))) AS bits
    FROM fp
),
fpb AS (
    SELECT doc_id, simhash % (CAST(1 AS BIGINT) << bits) AS fp
    FROM fp CROSS JOIN p
),
b AS (SELECT doc_id, fp FROM fpb WHERE doc_id % 10 = 7),
x AS (SELECT doc_id, fp FROM fpb WHERE doc_id % 10 <> 7),
cand AS (
    SELECT b.doc_id AS id, x.doc_id AS match_id,
           CAST(bit_count(xor(b.fp, x.fp)) AS BIGINT) AS hamming,
           row_number() OVER (PARTITION BY b.doc_id
                              ORDER BY bit_count(xor(b.fp, x.fp)) ASC,
                                       x.doc_id ASC) AS rn
    FROM b JOIN x ON bit_count(xor(b.fp, x.fp)) <= 1
)
SELECT f.doc_id AS id, c.match_id, c.hamming,
       c.match_id IS NULL AS is_unique
FROM b f LEFT JOIN (SELECT id, match_id, hamming FROM cand WHERE rn = 1) c
    ON c.id = f.doc_id
""",
    tags=("dedup", "incremental", "simhash"),
    bench=True,
)
def incremental_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup as production runs it: an incoming batch (doc_id % 10 == 7
    stands in for today's crawl) looks up its best near-match in the
    standing corpus via the asymmetric banded join — the index is never
    self-joined, signatures would be precomputed in a real deployment.
    The oracle is the brute-force batch×index scan; hash equality proves
    the banded lookup loses nothing (pigeonhole, d ≤ 1 < 2 bands).

    Two r7-measured hazards live in this entry's history
    (bench_runs/r07_scaling_round7_additions.json →
    r07_scaling_incr_simhash_derived.json): (1) the fixed-16-bit width
    spilled 35 GB at x100 (500k docs → 8-bit band values → 256 buckets
    per band → candidate blowup) — the width is now COUNT-DERIVED with
    the simhash_hamming_pairs formula (16 bits per 5000 docs, +1 per
    doubling, 4-aligned, ≤ 28; flooring at 16 keeps the small-SF plans
    identical); (2) the best-match row_number WINDOW — and equally a
    min(struct) object aggregate — sorted the whole candidate stream
    (13 GB spill remained), so the argmin is now a PRIMITIVE min() over
    a packed (hamming, id) BIGINT, which map-side-combines candidates
    down to one row per batch doc per task before any exchange.
    Fixed-knob original: 73.7 s / 35 GB spill at x100; derived+packed:
    18.1 s / zero spill / 102 MB shuffle."""
    d = spread(T(spark, sf_dir, "documents"))
    bits = _hamming_bits_for(_corpus_rows(spark, sf_dir, "documents"))
    batch = d.filter(F.col("doc_id") % 10 == 7)
    index = d.filter(F.col("doc_id") % 10 != 7)
    return dedup.simhash_lookup_pairs(
        batch, index, "doc_id", "text", bits=bits, bands=2, max_distance=1
    )


# band collision for the asymmetric lookup: batch row b vs index row x
_MH16_LOOKUP_CONDS = "\n       OR ".join(
    "(" + " AND ".join(f"b.m{bi * 2 + j} = x.m{bi * 2 + j}" for j in range(2)) + ")"
    for bi in range(16)
)


@_register(
    "incremental_minhash_dedup",
    # Replays the corpus tier's shingle/minhash/banding chain (same
    # inlined LCG family, 16×2 bands), split batch vs index, candidates
    # from the asymmetric band join only, exact-Jaccard verify at 0.5,
    # best match per batch doc (jaccard DESC, match_id ASC).
    oracle=f"""
WITH d AS (
    SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
    FROM documents
), g AS (
    SELECT doc_id,
           CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
                WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                ELSE list_distinct([list_aggr(t[i:i+2], 'string_agg', ' ')
                                    for i in range(1, len(t) - 1)]) END AS toks
    FROM d
), h AS (
    SELECT doc_id, toks,
           list_transform(toks, t2 -> {_sql_token_hash('t2')}) AS th
    FROM g
), m AS (
    SELECT doc_id, toks,
           {_MH_COLS}
    FROM h
), bm AS (SELECT * FROM m WHERE doc_id % 10 = 7),
xm AS (SELECT * FROM m WHERE doc_id % 10 <> 7),
cand AS (
    SELECT b.doc_id AS id, x.doc_id AS match_id,
           round(len(list_intersect(b.toks, x.toks))
                 / (len(b.toks) + len(x.toks) - len(list_intersect(b.toks, x.toks))),
                 6) AS jaccard
    FROM bm b JOIN xm x
      ON ({_MH16_LOOKUP_CONDS})
),
best AS (
    SELECT id, match_id, jaccard,
           row_number() OVER (PARTITION BY id
                              ORDER BY jaccard DESC, match_id ASC) AS rn
    FROM cand WHERE jaccard >= 0.5
)
SELECT f.doc_id AS id, c.match_id, c.jaccard,
       c.match_id IS NULL AS is_unique
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) f
LEFT JOIN (SELECT id, match_id, jaccard FROM best WHERE rn = 1) c
    ON c.id = f.doc_id
""",
    tags=("dedup", "incremental", "minhash", "lsh"),
    bench=True,
)
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL face of the Jaccard candidate tier of record:
    today's crawl (doc_id % 10 == 7) looks up its best MinHash near-dup
    in the standing corpus — batch×index banding only, the index is
    never self-joined, and in production the index-side signatures are
    precomputed once and appended per day. Completes the incremental
    family (exact keep-first, SimHash lookup, now MinHash-LSH): the
    three signature tiers all run both corpus-wide AND per-batch.
    Candidates verify with exact trigram Jaccard ≥ 0.5, so banding
    recall (measured 0.996 on the corpus tier, r06) is the only
    approximation."""
    d = spread(T(spark, sf_dir, "documents"))
    batch = d.filter(F.col("doc_id") % 10 == 7)
    index = d.filter(F.col("doc_id") % 10 != 7)
    return dedup.minhash_lookup_pairs(
        batch, index, "doc_id", "text", n=3, num_hashes=32, bands=16, threshold=0.5,
        index_rows=_corpus_rows(spark, sf_dir, "documents"),
    )


# ===========================================================================
# DSIR importance resampling (training-data selection)
# ===========================================================================

# Hashed-n-gram feature stream shared by the Spark plan and the oracle:
# unigrams + bigrams (word_ngrams(n=2) semantics incl. the short-doc
# single-shingle fallback), bucketed by the shared polynomial hash.
_DSIR_BUCKETS = 256
_DSIR_TOPK = 20
_DSIR_GRAMS_SQL = f"""
    SELECT doc_id, is_t, {_sql_token_hash('gram')} % {_DSIR_BUCKETS} AS b
    FROM (SELECT doc_id, is_t,
                 unnest(list_concat(toks,
                     CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                          ELSE list_transform(generate_series(1, len(toks) - 1),
                                              i -> toks[i] || ' ' || toks[i + 1])
                     END)) AS gram
          FROM (SELECT doc_id, lang = 'en' AS is_t,
                       CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                            ELSE {_TOKENS_SQL} END AS toks
                FROM documents))
"""


@_register(
    "dsir_importance_select",
    # Replays the full two-distribution pipeline: same hash buckets,
    # add-one smoothing, integer-1e-8 per-bucket log-ratio (exact BIGINT
    # sum → order-independent 6-dp per-doc mean), and the deterministic
    # (weight DESC, doc_id ASC) top-k cutoff.
    oracle=f"""
WITH g AS ({_DSIR_GRAMS_SQL}),
c AS (SELECT b, count(*) AS q_ct,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS p_ct
      FROM g GROUP BY b),
tot AS (SELECT sum(q_ct) AS q_tot, sum(p_ct) AS p_tot FROM c),
r AS (SELECT b, CAST(floor((ln((p_ct + 1.0) / (p_tot + {_DSIR_BUCKETS}))
                    - ln((q_ct + 1.0) / (q_tot + {_DSIR_BUCKETS})))
                    * 100000000 + 0.5) AS BIGINT) AS lr_e8
      FROM c CROSS JOIN tot),
s AS (SELECT d.doc_id, CAST(coalesce(s0.gram_ct, 0) AS BIGINT) AS gram_ct,
             s0.avg_logratio
      FROM documents d
      LEFT JOIN (SELECT doc_id, count(*) AS gram_ct,
                        CAST((CASE WHEN sum(lr_e8) < 0 THEN -1 ELSE 1 END)
                             * ((2 * abs(sum(lr_e8)) + 100 * count(*))
                                // (200 * count(*))) AS DOUBLE)
                          / 1000000.0 AS avg_logratio
                 FROM g JOIN r USING (b) GROUP BY doc_id) s0 USING (doc_id)),
k AS (SELECT doc_id FROM s
      ORDER BY avg_logratio DESC, doc_id ASC LIMIT {_DSIR_TOPK})
SELECT s.doc_id, s.gram_ct, s.avg_logratio,
       (k.doc_id IS NOT NULL) AS selected
FROM s LEFT JOIN k USING (doc_id)
""",
    tags=("sampling", "dsir", "curation", "two-pass"),
    bench=True,
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al., NeurIPS 2023): hashed-n-gram
    importance weights of every document against a target domain (the
    'en' slice stands in for the high-quality target set), then the
    deterministic top-k cut — the Gumbel-resampling step of the paper
    collapses to rank-by-weight when run without noise, which is what a
    reproducible pipeline wants.

    Plan shape / 100 TB posture: see ``operators.sampling.dsir_weights``
    (one corpus shuffle; distributions ride broadcasts). The top-k cut
    is TakeOrderedAndProject (k rows to the driver, never a global
    sort) and the selected-flag re-attach broadcasts those k ids."""
    from ..operators import sampling

    d = spread(T(spark, sf_dir, "documents"))
    # scores is consumed twice (the top-k cut + the selected-flag
    # re-attach) but deliberately NOT persisted: both references live in
    # ONE plan, so ReusedExchange already dedupes the bucket shuffle —
    # measured sf0.1 (r13): a persist boundary here costs +1 job and
    # +0.5 s (cache write + read-back beats recompute only across
    # separate actions, not within a single plan).
    scores = sampling.dsir_weights(
        d, "doc_id", "text", F.col("lang") == "en", buckets=_DSIR_BUCKETS
    )
    topk = (
        scores.orderBy(F.col("avg_logratio").desc(), F.col("id").asc())
        .limit(_DSIR_TOPK)
        .select(F.col("id").alias("_sel_id"))
    )
    return scores.join(
        F.broadcast(topk), scores["id"] == F.col("_sel_id"), "left"
    ).select(
        F.col("id").alias("doc_id"),
        "gram_ct",
        "avg_logratio",
        F.col("_sel_id").isNotNull().alias("selected"),
    )


# ===========================================================================
# Snapshot diff (incremental-corpus reconciliation)
# ===========================================================================

def _sql_fingerprint(txt: str) -> str:
    """DuckDB twin of functions.text.doc_fingerprint over a text expr."""
    toks = f"regexp_extract_all({txt}, '\\S+')"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({toks}, t2 -> {_sql_token_hash('t2')})), "
        f"(acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD})"
    )


#: token_hash("rev2") under functions/hashing.py's polynomial — pinned
#: by tests/test_properties.py against the live Spark expression. The
#: snapshot edit appends " rev2" (one whitespace-separated token), and
#: doc_fingerprint is a left fold over tokens, so the edited snapshot's
#: fingerprint COMPOSES from the raw one:
#:   fp_new = (fp_old * HASH_BASE + token_hash("rev2")) % HASH_MOD
#: — no second corpus-wide hash pass exists to pay (r14, guide §1.2).
_REV2_TOKEN_HASH = 3_496_943


def _snapshot_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan form of the engine-constructed snapshot pair shared by
    corpus_snapshot_diff, incremental_curation_delta and
    curation_refresh_e2e: both snapshots derive from the SAME documents
    row (membership = salted hash buckets, snapshot B carries a
    deterministic 10% ' rev2' edit), so the old-vs-new fingerprint
    reconciliation needs NO join — one projection computes both
    membership flags and the raw fingerprint, and the edited
    fingerprint composes algebraically (see _REV2_TOKEN_HASH). ONE
    definition, so the consumers can never drift onto different
    corpora.

    Replaces the two-scan + full-outer-join _snapshot_pair shape (r14,
    guide §1.2/§2.4): that form fingerprinted the corpus twice and
    shuffled (id, digest) for a join whose two sides were the same
    physical row. Returns (doc_id, text, in_a, in_b, is_edit, fp) with
    text = the RAW text (old-snapshot payload; the new snapshot's text
    is ``text || ' rev2'`` iff is_edit) and fp = doc_fingerprint(text),
    NULL-safe (NULL text → NULL fp, same as before).

    Consumer contract: fp is computed in a PROJECTION (multi-referenced
    aliases stay single-evaluation — CollapseProject keeps the staging
    projection when the alias is expensive and referenced repeatedly,
    verified r14), but a FILTER referencing fp gets the expression
    inlined by predicate pushdown and re-evaluated per reference —
    derive filter conditions so fp appears at most once, or filter
    above a persist boundary."""
    from ..operators.sampling import hash_bucket

    d = spread(T(spark, sf_dir, "documents"))
    in_a = hash_bucket(F.col("doc_id"), "snapA") < 900
    in_b = hash_bucket(F.col("doc_id"), "snapB") < 900
    is_edit = hash_bucket(F.col("doc_id"), "edit") < 100
    return d.filter(in_a | in_b).select(
        "doc_id",
        "text",
        "source",
        in_a.alias("in_a"),
        in_b.alias("in_b"),
        is_edit.alias("is_edit"),
        text.doc_fingerprint(F.col("text")).alias("fp"),
    )


def _snapshot_new_text() -> Column:
    """The new snapshot's text over a _snapshot_flat row."""
    return F.when(
        F.col("is_edit"), F.concat(F.col("text"), F.lit(" rev2"))
    ).otherwise(F.col("text"))


def _snapshot_fp_new() -> Column:
    """The new snapshot's fingerprint over a _snapshot_flat row, via
    the composition identity (exact BIGINT arithmetic: fp < 2^31, so
    fp*31 + h < 2^36 never overflows a long)."""
    return F.when(
        F.col("is_edit"),
        (F.col("fp") * HASH_BASE + F.lit(_REV2_TOKEN_HASH)) % HASH_MOD,
    ).otherwise(F.col("fp"))


def _snapshot_changed() -> Column:
    """True iff fp_old != fp_new for a _snapshot_flat row, referencing
    fp exactly ONCE so a pushed-down filter never duplicates the
    fingerprint fold:  (fp*B + h) % M == fp  ⟺  (fp*(B−1) + h) % M == 0
    for fp ∈ [0, M). NULL fp (NULL text) edits to NULL on both sides —
    eqNullSafe-equal, i.e. NOT changed — hence the coalesce(…, False)."""
    return F.col("is_edit") & F.coalesce(
        ((F.col("fp") * (HASH_BASE - 1) + F.lit(_REV2_TOKEN_HASH)) % HASH_MOD)
        != 0,
        F.lit(False),
    )


@_register(
    "corpus_snapshot_diff",
    # Replays both snapshot constructions (salted-hash membership, the
    # deterministic 'rev2' edit) and the full-outer fingerprint diff.
    oracle=f"""
WITH a AS (
    SELECT doc_id, {_sql_fingerprint('text')} AS fp_old
    FROM documents
    WHERE {_sql_token_hash("'snapA|' || CAST(doc_id AS VARCHAR)")} % 1000 < 900
),
b AS (
    SELECT doc_id,
           {_sql_fingerprint(
               "CASE WHEN " + _sql_token_hash("'edit|' || CAST(doc_id AS VARCHAR)")
               + " % 1000 < 100 THEN text || ' rev2' ELSE text END")} AS fp_new
    FROM documents
    WHERE {_sql_token_hash("'snapB|' || CAST(doc_id AS VARCHAR)")} % 1000 < 900
)
SELECT coalesce(a.doc_id, b.doc_id) AS id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.fp_old IS NOT DISTINCT FROM b.fp_new THEN 'unchanged'
            ELSE 'changed' END AS status,
       a.fp_old, b.fp_new
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
""",
    tags=("diff", "versioning", "incremental"),
    bench=True,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: two corpus versions — membership and a
    10% deterministic edit derived from salted hashes of the doc id, so
    both engines construct the identical snapshots — fingerprints
    compared, per-doc added/removed/changed/unchanged status. The
    incremental-processing entry point of a refreshed 100 TB corpus:
    downstream dedup/embedding stages consume the delta, not the world.

    Plan shape (r14, guide §2.4 — remove shuffles outright): both
    snapshots derive from the SAME documents row, so the reconciliation
    is ONE map-only scan — membership flags and the status CASE are
    per-row column arithmetic, the edited fingerprint composes from the
    raw one (_snapshot_flat), and the full-outer join + second
    fingerprint pass of the generic two-table form
    (operators.diff.snapshot_diff, still the right operator for
    independently-stored snapshots) never runs."""
    flat = _snapshot_flat(spark, sf_dir)
    status = (
        F.when(~F.col("in_a"), F.lit("added"))
        .when(~F.col("in_b"), F.lit("removed"))
        .when(_snapshot_changed(), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return flat.select(
        F.col("doc_id").alias("id"),
        status.alias("status"),
        F.when(F.col("in_a"), F.col("fp")).alias("fp_old"),
        F.when(F.col("in_b"), _snapshot_fp_new()).alias("fp_new"),
    )


# ===========================================================================
# Embedding outlier scoring (embedding-space curation)
# ===========================================================================

@_register(
    "embedding_outlier_scores",
    # The same two-Lloyd-step codebook replay as semantic_dedup_flags,
    # then rounded cosine to the OWN centroid, ascending rank, and the
    # integer ceil(n/20) per-cell cutoff.
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
c0 AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS ce
    FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)
),
{_lloyd_sql('c0', 'oa1', 'om1', 'oc1')},
{_lloyd_sql('oc1', 'oa2', 'om2', 'oc2')},
assigned AS (
    SELECT v.vec_id AS id, v.e, b.cell
    FROM v
    JOIN LATERAL (
        SELECT c.cell, {_cos_sql('v.e', 'c.ce')} AS sim
        FROM oc2 c ORDER BY sim DESC, c.cell ASC LIMIT 1
    ) b ON TRUE
),
scored AS (
    SELECT a.id, a.cell, {_cos_sql('a.e', 'c.ce')} AS centroid_cos
    FROM assigned a JOIN oc2 c USING (cell)
),
ranked AS (
    SELECT id, cell, centroid_cos,
           row_number() OVER (PARTITION BY cell
                              ORDER BY centroid_cos ASC, id ASC) AS cell_rank,
           count(*) OVER (PARTITION BY cell) AS n
    FROM scored
)
SELECT id, cell, centroid_cos, cell_rank,
       cell_rank <= (n + 19) // 20 AS is_outlier
FROM ranked
""",
    tags=("embedding", "outlier", "quality", "kmeans"),
    bench=True,
)
def embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier curation (operators.ann.embedding_outliers):
    the quality twin of SemDeDup — vectors FARTHEST from their k-means
    centroid (bottom 5% of each cell, integer cutoff) are flagged as
    off-distribution/garbage candidates. Shares the deterministic
    codebook (16 cells, 2 Lloyd steps) and the map-only cell_assign
    stage with semantic_dedup_flags, so the oracle replays both."""
    e = spread(T(spark, sf_dir, "embeddings"))
    cb = _embeddings_codebook(spark, sf_dir)
    return ann.embedding_outliers(e, "vec_id", "embedding", cb, denom=20)


# ===========================================================================
# Incremental curation delta (snapshot diff × quality gate composition)
# ===========================================================================

def _quality_metrics(d: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Spark twin of _quality_m_sql's m CTE over any (doc_id, text)
    frame, with optional passthrough columns: tokens and gram arrays
    materialize as columns before the counting lambdas touch them
    (top_ngram_fraction's contract). The ONE copy of the metric block —
    the gate, the funnel, and the delta all call it."""
    staged = (
        d.withColumn("_toks", text.whitespace_tokens(F.col("text")))
        .withColumn("_g2", text.word_ngrams(F.col("_toks"), 2))
        .withColumn("_g3", text.word_ngrams(F.col("_toks"), 3))
    )
    return staged.select(
        "doc_id",
        *extra,
        F.size("_toks").alias("n_tokens"),
        text.mean_token_len(F.col("text")).alias("mean_token_len"),
        text.top_ngram_fraction(F.col("_g2")).alias("top_bigram_frac"),
        text.duplicate_ngram_fraction(F.col("_g3")).alias("dup_trigram_frac"),
    )


def _quality_keep():
    """The Gopher keep rule over _quality_metrics' columns — the ONE
    Spark copy of _QUALITY_KEEP_SQL."""
    return (
        (F.col("top_bigram_frac") <= 0.1)
        & (F.col("dup_trigram_frac") <= 0.1)
        & F.col("n_tokens").between(30, 10000)
        & F.col("mean_token_len").between(3, 10)
    )


@_register(
    "incremental_curation_delta",
    # Composes the snapshot-diff construction (same salted hashes and
    # fingerprints as corpus_snapshot_diff) with the quality CTE chain
    # re-pointed at the delta — the oracle proves the composed pipeline,
    # not just its stages.
    oracle=f"""
WITH bsnap AS (
    SELECT doc_id,
           CASE WHEN {_sql_token_hash("'edit|' || CAST(doc_id AS VARCHAR)")} % 1000 < 100
                THEN text || ' rev2' ELSE text END AS text
    FROM documents
    WHERE {_sql_token_hash("'snapB|' || CAST(doc_id AS VARCHAR)")} % 1000 < 900
),
aold AS (
    SELECT doc_id, {_sql_fingerprint('text')} AS fp_old
    FROM documents
    WHERE {_sql_token_hash("'snapA|' || CAST(doc_id AS VARCHAR)")} % 1000 < 900
),
delta AS (
    SELECT b.doc_id, b.text,
           CASE WHEN a.doc_id IS NULL THEN 'added' ELSE 'changed' END AS status
    FROM (SELECT doc_id, text, {_sql_fingerprint('text')} AS fp_new FROM bsnap) b
    LEFT JOIN aold a USING (doc_id)
    WHERE a.doc_id IS NULL OR a.fp_old IS DISTINCT FROM b.fp_new
),
{_quality_m_sql('delta')}
SELECT m.doc_id, delta.status, m.n_tokens, m.mean_token_len,
       m.top_bigram_frac, m.dup_trigram_frac,
       {_QUALITY_KEEP_SQL} AS keep
FROM m JOIN delta USING (doc_id)
""",
    tags=("diff", "incremental", "quality", "curation"),
    bench=True,
)
def incremental_curation_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation: quality-gate ONLY the documents that are
    new or edited since the previous snapshot — the composition that
    makes a 100 TB refresh affordable (gate cost scales with the delta,
    not the corpus; the unchanged 90% is never re-tokenized).

    Plan shape (r14): the delta detection is ONE map-only pass —
    _snapshot_flat computes both snapshots' membership and fingerprint
    from the same row, the changed-test references the fingerprint fold
    exactly once (filter-pushdown-safe, see _snapshot_changed), and the
    Gopher-rule gate then runs map-only on the surviving rows. No join,
    no shuffle, no second fingerprint pass — the previous two-scan +
    left-join form paid all three. Downstream consumers (dedup index
    refresh, re-embedding) key off the same delta."""
    flat = _snapshot_flat(spark, sf_dir)
    delta = flat.filter(
        F.col("in_b") & (~F.col("in_a") | _snapshot_changed())
    ).select(
        "doc_id",
        _snapshot_new_text().alias("text"),
        F.when(~F.col("in_a"), F.lit("added"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )
    m = _quality_metrics(delta, extra=("status",))
    return m.select(
        "doc_id",
        "status",
        "n_tokens",
        "mean_token_len",
        "top_bigram_frac",
        "dup_trigram_frac",
        _quality_keep().alias("keep"),
    )


@_register(
    "curation_refresh_e2e",
    # The daily-refresh composition, oracled END TO END (VERDICT r10
    # #8): snapshot diff → Gopher delta gate → incremental MinHash
    # lookup against the standing corpus → temperature-mixture re-plan
    # over the refreshed corpus. Every fragment is the registered
    # oracle of its stage entry, composed verbatim with renamed CTEs —
    # so a value-hash match here proves the COMPOSITION, not just the
    # stages.
    oracle=f"""
WITH bsnap AS (
    SELECT doc_id,
           CASE WHEN {_sql_token_hash("'edit|' || CAST(doc_id AS VARCHAR)")} % 1000 < 100
                THEN text || ' rev2' ELSE text END AS text
    FROM documents
    WHERE {_sql_token_hash("'snapB|' || CAST(doc_id AS VARCHAR)")} % 1000 < 900
),
aold AS (
    SELECT doc_id, text, {_sql_fingerprint('text')} AS fp_old
    FROM documents
    WHERE {_sql_token_hash("'snapA|' || CAST(doc_id AS VARCHAR)")} % 1000 < 900
),
newf AS (
    SELECT doc_id, text, {_sql_fingerprint('text')} AS fp_new FROM bsnap
),
delta AS (
    SELECT n.doc_id, n.text
    FROM newf n LEFT JOIN aold a USING (doc_id)
    WHERE a.doc_id IS NULL OR a.fp_old IS DISTINCT FROM n.fp_new
),
unch AS (
    SELECT n.doc_id FROM newf n JOIN aold a USING (doc_id)
    WHERE a.fp_old IS NOT DISTINCT FROM n.fp_new
),
{_quality_m_sql('delta')},
kept AS (
    SELECT delta.doc_id, delta.text
    FROM m JOIN delta USING (doc_id)
    WHERE {_QUALITY_KEEP_SQL}
),
kg AS (
    SELECT doc_id,
           CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
                WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                ELSE list_distinct([list_aggr(t[i:i+2], 'string_agg', ' ')
                                    for i in range(1, len(t) - 1)]) END AS toks
    FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM kept)
),
kh AS (
    SELECT doc_id, toks,
           list_transform(toks, t2 -> {_sql_token_hash('t2')}) AS th
    FROM kg
),
km AS (SELECT doc_id, toks, {_MH_COLS} FROM kh),
xg AS (
    SELECT doc_id,
           CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
                WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                ELSE list_distinct([list_aggr(t[i:i+2], 'string_agg', ' ')
                                    for i in range(1, len(t) - 1)]) END AS toks
    FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM aold)
),
xh AS (
    SELECT doc_id, toks,
           list_transform(toks, t2 -> {_sql_token_hash('t2')}) AS th
    FROM xg
),
xm AS (SELECT doc_id, toks, {_MH_COLS} FROM xh),
matched AS (
    SELECT DISTINCT b.doc_id
    FROM km b JOIN xm x
      ON ({_MH16_LOOKUP_CONDS})
    WHERE round(len(list_intersect(b.toks, x.toks))
                / (len(b.toks) + len(x.toks) - len(list_intersect(b.toks, x.toks))),
                6) >= 0.5
),
uniq AS (
    SELECT k.doc_id FROM kept k LEFT JOIN matched mt USING (doc_id)
    WHERE mt.doc_id IS NULL
),
refreshed AS (
    SELECT doc_id FROM unch UNION ALL SELECT doc_id FROM uniq
),
src AS (
    SELECT r2.doc_id, dd.source FROM refreshed r2 JOIN documents dd USING (doc_id)
),
sc AS (SELECT source AS "group", count(*) AS n_docs FROM src GROUP BY source),
tot AS (SELECT sum(pow(n_docs, 0.5)) AS z, sum(n_docs) AS n FROM sc),
r AS (
    SELECT "group", n_docs,
           round(pow(n_docs, 0.5) / z, 6) AS weight,
           CAST(round(least(1.0, (pow(n_docs, 0.5) / z) * (0.5 * n) / n_docs)
                      * 1000000) AS BIGINT) AS rate_ppm
    FROM sc CROSS JOIN tot
),
acc AS (
    SELECT s.source AS "group", count(*) AS n_accepted
    FROM src s JOIN r ON s.source = r."group"
    WHERE {_sql_token_hash("'mix|' || CAST(doc_id AS VARCHAR)")} % 1000000 < rate_ppm
    GROUP BY s.source
),
dstat AS (
    SELECT dd.source AS "group", count(*) AS n_delta
    FROM delta JOIN documents dd USING (doc_id) GROUP BY dd.source
),
kstat AS (
    SELECT dd.source AS "group", count(*) AS n_delta_kept
    FROM kept JOIN documents dd USING (doc_id) GROUP BY dd.source
),
ustat AS (
    SELECT dd.source AS "group", count(*) AS n_delta_unique
    FROM uniq JOIN documents dd USING (doc_id) GROUP BY dd.source
)
SELECT r."group", r.n_docs, r.weight, r.rate_ppm,
       coalesce(acc.n_accepted, 0) AS n_accepted,
       coalesce(dstat.n_delta, 0) AS n_delta,
       coalesce(kstat.n_delta_kept, 0) AS n_delta_kept,
       coalesce(ustat.n_delta_unique, 0) AS n_delta_unique
FROM r LEFT JOIN acc USING ("group") LEFT JOIN dstat USING ("group")
       LEFT JOIN kstat USING ("group") LEFT JOIN ustat USING ("group")
""",
    tags=("curation", "incremental", "diff", "minhash", "mixture", "e2e"),
    bench=True,
)
def curation_refresh_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-refresh pipeline a 100 TB corpus actually schedules,
    as ONE oracled entry (VERDICT r10 #8): (1) snapshot diff isolates
    the added/changed delta by fingerprint (unchanged docs never
    re-tokenize); (2) the Gopher quality gate runs on the DELTA only;
    (3) surviving delta docs look up their best MinHash near-dup in
    the STANDING corpus (batch×index banding, never index×index) and
    only uniques enter; (4) the temperature-mixture plan recomputes
    per-source acceptance rates over the REFRESHED corpus. Output: one
    audit row per source — refreshed size, mixture weight/rate,
    accepted count, and the delta funnel (arrived → quality-kept →
    unique).

    Plan shape / 100 TB posture: every stage's cost scales with the
    DELTA except the one corpus scan (fingerprints compose per row —
    _snapshot_flat — so the old diff join and its second hash pass are
    gone, r14) and the mixture's per-source counts; text shuffles only
    for the delta's shingle lookup against the banding buckets it
    collides with. All four stages are individually hash-gated entries
    (corpus_snapshot_diff, incremental_curation_delta,
    incremental_minhash_dedup, corpus_mixture_plan); this entry pins
    their composition (the mixture algebra here is value-identical to
    sampling.mixture_plan — same window-free float path for z, same
    ppm rounding — folded with the funnel counts into one aggregation,
    proven by the unchanged end-to-end oracle)."""
    # ONE persisted corpus frame (r14, guide §1.2/§5): the single scan
    # carries text + membership flags + fingerprint, and every later
    # stage — delta filter, unchanged set, the MinHash INDEX side (which
    # previously re-scanned the parquet), the per-source tags — is a
    # cheap cache-scan over it. Replaces the r13 `joined` persist (same
    # text payload cached, but only after TWO fingerprint passes and a
    # corpus-wide join). MEMORY_AND_DISK: an eviction degrades to disk,
    # a lost block to one map-only recompute — no multiplicative
    # re-execution path remains (VERDICT r13 #1: this entry was bimodal
    # 7 s ↔ 17 s under its seven-persist deep tree).
    # EAGER persist-locking (VERDICT r13 #1, the bimodality root cause):
    # AQE submits independent query stages CONCURRENTLY, and a lazily
    # persisted frame referenced by several of them races — each stage
    # recomputes the uncached subtree, so the corpus fingerprint fold /
    # quality HOFs / MinHash lookup ran a variable 1-3× per run
    # depending on stage timing (bimodal 7 s ↔ 17 s at 32 cores, WORSE
    # with more cores because more stages run at once). One count()
    # per load-bearing boundary pins each subtree to exactly one
    # computation — the same persist-locking the CC star loop uses.
    staged = _snapshot_flat(spark, sf_dir)
    pin(staged)
    changed = _snapshot_changed()
    delta = staged.filter(F.col("in_b") & (~F.col("in_a") | changed)).select(
        "doc_id", "source", _snapshot_new_text().alias("text")
    )
    # metrics PERSIST before the keep-filter: filtering directly on
    # _quality_keep() pushes the predicate below the projection and
    # re-inlines the staged gram arrays into the filter expression — the
    # materialized-column contract of top_ngram_fraction breaks and the
    # per-row O(k²) HOFs re-evaluate per ELEMENT (first measurement of
    # this entry: 451 s at sf0.1; with the boundary ~2 s). The cached
    # frame is delta-sized and numeric. Its only consumer is kept, so it
    # is released as soon as kept is pinned (no count of its own).
    m = _quality_metrics(delta).persist()
    kept = delta.join(m.filter(_quality_keep()).select("doc_id"), "doc_id")
    pin(kept)  # 3 consumers (two banding sides + the restore join)
    m.unpersist()
    # index_rows is the FULL document count, while the index side is
    # only the in_a subset (89% of it at sf0.1), so the lookup's
    # 100k-row gate is biased toward the semi-join path: it switches
    # slightly before the index itself reaches 100k rows.
    looked = dedup.minhash_lookup_pairs(
        kept.select("doc_id", "text"),
        staged.filter(F.col("in_a")).select("doc_id", "text"),
        "doc_id", "text",
        n=3, num_hashes=32, bands=16, threshold=0.5,
        index_rows=_corpus_rows(spark, sf_dir, "documents"),
    )
    unique_ids = looked.filter(F.col("is_unique")).select(F.col("id").alias("doc_id"))
    pin(unique_ids)  # pins the whole lookup to one execution
    # refreshed corpus = unchanged ∪ unique, with source carried from
    # the cache (no documents re-scan, no join against a docs table)
    uqs = kept.select("doc_id", "source").join(unique_ids, "doc_id")
    unchanged = staged.filter(
        F.col("in_a") & F.col("in_b") & ~changed
    ).select("doc_id", "source")
    refreshed = unchanged.unionByName(uqs)
    pin(refreshed)  # consumed by the tag union AND the acceptance pass

    # ONE tagged union + conditional aggregation computes the mixture's
    # per-source sizes AND all three funnel columns (guide §2.4): the
    # r13 form ran the mixture's groupBy and a separate docs⋈stages
    # funnel pass; here every count is a `count(when(_stage=k))` over
    # one exchange. Counts are identical: each stage id-set is
    # doc_id-unique, and a per-stage count over the union equals the
    # count of its own aggregation.
    tagged = (
        delta.select("doc_id", "source").withColumn("_stage", F.lit(0))
        .unionByName(kept.select("doc_id", "source").withColumn("_stage", F.lit(1)))
        .unionByName(uqs.withColumn("_stage", F.lit(2)))
        .unionByName(refreshed.withColumn("_stage", F.lit(3)))
    )
    per_source = (
        tagged.groupBy(F.col("source").alias("group"))
        .agg(
            F.count(F.when(F.col("_stage") == 3, 1)).alias("n_docs"),
            F.count(F.when(F.col("_stage") == 0, 1)).alias("n_delta"),
            F.count(F.when(F.col("_stage") == 1, 1)).alias("n_delta_kept"),
            F.count(F.when(F.col("_stage") == 2, 1)).alias("n_delta_unique"),
        )
        # groups with delta rows but no refreshed docs are not part of
        # the mixture plan (the oracle's rate table is keyed on the
        # refreshed corpus) — same row set as the old plan⋈funnel left
        # join
        .filter(F.col("n_docs") > 0)
    )
    # the 1-row normalizer rides a whole-frame window over the ≤|sources|
    # aggregate instead of a separate agg + crossJoin(broadcast) pair —
    # one fewer exchange and broadcast build; the float algebra (pow,
    # sum, round) is term-identical to sampling.mixture_plan
    w_all = Window.partitionBy()
    pw = F.pow(F.col("n_docs"), F.lit(0.5))
    z = F.sum(pw).over(w_all)
    n = F.sum(F.col("n_docs")).over(w_all)
    raw_rate = F.least(F.lit(1.0), (pw / z) * (F.lit(0.5) * n) / F.col("n_docs"))
    # rates is consumed twice (acceptance broadcast + the output join) —
    # a ≤|sources|-row persist keeps the union+agg subtree from
    # re-executing per reference (the r13 mixture-persist finding, now
    # scoped to ONE tiny frame)
    rates = per_source.select(
        "group", "n_docs", "n_delta", "n_delta_kept", "n_delta_unique",
        F.round(pw / z, 6).alias("weight"),
        F.round(raw_rate * 1_000_000, 0).cast("long").alias("rate_ppm"),
    )
    pin(rates)  # acceptance broadcast + output join race otherwise
    accept_hash = dedup.token_hash(
        F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))
    ) % 1_000_000
    accepted = (
        refreshed.select(F.col("source").alias("group"), accept_hash.alias("_ah"))
        .join(
            F.broadcast(rates.select(F.col("group").alias("_rg"), "rate_ppm")),
            F.col("group").eqNullSafe(F.col("_rg")),
        )
        .filter(F.col("_ah") < F.col("rate_ppm"))
        .groupBy("group")
        .agg(F.count("*").alias("n_accepted"))
    )
    return rates.join(
        accepted.select(F.col("group").alias("_ag"), "n_accepted"),
        F.col("group").eqNullSafe(F.col("_ag")),
        "left",
    ).select(
        "group", "n_docs", "weight", "rate_ppm",
        F.coalesce("n_accepted", F.lit(0)).alias("n_accepted"),
        "n_delta", "n_delta_kept", "n_delta_unique",
    )


# ===========================================================================
# ANN recall evaluation report (index-quality harness)
# ===========================================================================

def _ann_recall_oracle() -> str:
    """Composes the three registered ANN oracles verbatim (a CTE body
    may itself start with WITH), so the recall report's ground truth is
    the exact SQL the individual tiers are hash-gated on."""
    bf = CATALOG["ann_bruteforce_top10"].oracle
    ivf = CATALOG["ann_ivf_top10"].oracle
    pq = CATALOG["ann_pq_top10"].oracle
    return f"""
WITH bf AS ({bf}),
ivf AS ({ivf}),
pq AS ({pq}),
qids AS (SELECT DISTINCT query_id FROM bf),
h_ivf AS (
    SELECT i.query_id, count(*) AS n_hits
    FROM ivf i JOIN bf USING (query_id, neighbor_id) GROUP BY i.query_id
),
h_pq AS (
    SELECT p.query_id, count(*) AS n_hits
    FROM pq p JOIN bf USING (query_id, neighbor_id) GROUP BY p.query_id
)
SELECT 'ivf' AS tier, q.query_id, coalesce(h.n_hits, 0) AS n_hits,
       round(coalesce(h.n_hits, 0) / 10.0, 6) AS recall
FROM qids q LEFT JOIN h_ivf h USING (query_id)
UNION ALL
SELECT 'pq' AS tier, q.query_id, coalesce(h.n_hits, 0) AS n_hits,
       round(coalesce(h.n_hits, 0) / 10.0, 6) AS recall
FROM qids q LEFT JOIN h_pq h USING (query_id)
"""


@_register(
    "ann_recall_report",
    oracle=_ann_recall_oracle(),
    tags=("ann", "evaluation", "recall"),
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the approximate ANN tiers against the exact
    brute-force baseline, per query — the index-quality report a vector
    platform publishes before swapping an approximate tier into
    production (and the regression gate for nprobe/codebook changes).

    Plan shape / 100 TB posture: each tier's plan is exactly its
    registered query (broadcast probe stages, top-k cuts); the recall
    join operates on tier outputs of k rows per query — evaluation cost
    scales with the QUERY set, never the corpus. At fleet scale the
    brute-force arm runs on a sampled query panel for the same reason."""
    # the brute-force arm is the expensive one — union the tier outputs
    # FIRST so one join consumes it exactly once in the returned plan
    bf = ann_bruteforce_top10(spark, sf_dir).select("query_id", "neighbor_id")
    cand = (
        ann_ivf_top10(spark, sf_dir)
        .select(F.lit("ivf").alias("tier"), "query_id", "neighbor_id")
        .unionAll(
            ann_pq_top10(spark, sf_dir).select(
                F.lit("pq").alias("tier"), "query_id", "neighbor_id"
            )
        )
    )
    # Both sides of the hit join are k-rows-per-query tier outputs
    # (≤ tiers × queries × 10 rows by construction — the docstring's
    # query-set scaling argument); without the hint Spark planned
    # SortMergeJoins from unknown post-limit estimates, paying two
    # sort+exchange pairs for frames that fit in one broadcast block
    # (guide §3.1: hint when the estimate is wrong).
    h = (
        cand.join(F.broadcast(bf), ["query_id", "neighbor_id"])
        .groupBy("tier", "query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    # the query panel is definitional (vec_id < 5), not derived from bf
    panel = (
        T(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"))
        .crossJoin(spark.createDataFrame([("ivf",), ("pq",)], "tier string"))
    )
    return panel.join(F.broadcast(h), ["tier", "query_id"], "left").select(
        "tier",
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / 10.0, 6).alias("recall"),
    )


@_register(
    "corpus_mixture_upsample",
    # The uncapped-rate twin of corpus_mixture_plan: alpha=0.3 at a
    # 1.0x target total forces rates > 1 on small sources; per-doc
    # copies = rate_ppm // 1e6 (rates round half-away to ppm) + [hash < rate_ppm % 1e6], all integer
    # ppm arithmetic, summed per source.
    oracle=f"""
WITH sc AS (SELECT source AS "group", count(*) AS n_docs FROM documents GROUP BY source),
tot AS (SELECT sum(pow(n_docs, 0.3)) AS z, sum(n_docs) AS n FROM sc),
r AS (
    SELECT "group", n_docs,
           round(pow(n_docs, 0.3) / z, 6) AS weight,
           CAST(round((pow(n_docs, 0.3) / z) * (1.0 * n) / n_docs * 1000000)
                AS BIGINT) AS rate_ppm
    FROM sc CROSS JOIN tot
),
acc AS (
    SELECT d.source AS "group",
           CAST(sum(rate_ppm // 1000000
                    + CASE WHEN {_sql_token_hash("'mix|' || CAST(doc_id AS VARCHAR)")} % 1000000
                                < rate_ppm % 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_accepted
    FROM documents d JOIN r ON d.source = r."group"
    GROUP BY d.source
)
SELECT r."group", r.n_docs, r.weight, r.rate_ppm,
       coalesce(acc.n_accepted, 0) AS n_accepted
FROM r LEFT JOIN acc USING ("group")
""",
    tags=("sampling", "mixture", "upsample", "curation"),
)
def corpus_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The over-sampling half of temperature mixing: at alpha=0.3 and a
    1.0x target total, sources below their temperature share get
    rate > 1 — their documents REPEAT in the training mix (how the
    published multilingual mixtures actually treat low-resource
    slices). Copy counts are pure integer ppm arithmetic on the salted
    hash, so the plan is deterministic under retries and engines;
    plan shape identical to corpus_mixture_plan (counts shuffle once,
    rates broadcast back)."""
    from ..operators import sampling

    d = spread(T(spark, sf_dir, "documents"))
    return sampling.mixture_plan(
        d, "doc_id", "source", alpha=0.3, target_frac=1.0, allow_upsample=True
    )


# ===========================================================================
# BPE merge-round vocabulary induction (tokenizer training)
# ===========================================================================

def _bpe_fold_sql(tcte: str, pcte: str) -> str:
    """One BPE apply round in DuckDB: greedy leftmost fuse of pcte's
    (l, r) pair inside every token list of tcte — the same
    string-accumulator fold as operators.bpe.merge_pair_fold."""
    return f"""
    SELECT doc_id,
           -- empty token list stays EMPTY (string_split('', ' ') = ['']
           -- would mint a phantom token) — merge_pair_fold's guard
           CASE WHEN len(t) = 0 THEN t ELSE
           string_split(list_reduce(list_prepend('', t),
              (acc, x) -> CASE
                 WHEN x = {pcte}.r
                      AND (acc = {pcte}.l OR ends_with(acc, ' ' || {pcte}.l))
                 THEN left(acc, len(acc) - len({pcte}.l)) || {pcte}.l || '+' || {pcte}.r
                 WHEN acc = '' THEN x
                 ELSE acc || ' ' || x END), ' ') END AS t
    FROM {tcte} CROSS JOIN {pcte}"""


def _bpe_top_pair_sql(tcte: str) -> str:
    return f"""
    SELECT split_part(pg, ' ', 1) AS l, split_part(pg, ' ', 2) AS r,
           count(*) AS c
    FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                       i -> t[i] || ' ' || t[i + 1])) AS pg
          FROM {tcte})
    GROUP BY 1, 2 ORDER BY c DESC, l, r LIMIT 1"""


# Shared BPE merge table: all three BPE entries (merge_rounds /
# encode_corpus / vocab_coverage) train the IDENTICAL 3-round table —
# each training round is a corpus-wide pair count, so without sharing
# the catalog paid 9 corpus passes for one 3-row model artifact. The
# shared-result store (session.shared) holds the DRIVER-SIDE collected
# rows (3 tuples of 2 strings + 2 ints — no persisted frame). At 100 TB
# this is the realistic tokenizer shape anyway: the merge table is fit
# once and every consumer applies it.
def _bpe_merge_table(spark: SparkSession, sf_dir: str) -> list:
    from ..operators import bpe

    def build() -> list:
        d = spread(T(spark, sf_dir, "documents"))
        return bpe.bpe_merges(d, "doc_id", "text", rounds=3).collect()

    return shared(spark, sf_dir, "documents", "bpe_merges", build)


@_register(
    "bpe_merge_rounds",
    # Three unrolled merge rounds: top adjacent pair (count DESC, then
    # lexicographic — engine-exact string tiebreak), greedy-leftmost
    # fuse, repeat on the re-tokenized corpus.
    oracle=f"""
WITH t0 AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
p1 AS ({_bpe_top_pair_sql('t0')}),
t1 AS ({_bpe_fold_sql('t0', 'p1')}),
p2 AS ({_bpe_top_pair_sql('t1')}),
t2 AS ({_bpe_fold_sql('t1', 'p2')}),
p3 AS ({_bpe_top_pair_sql('t2')})
SELECT 1 AS round, l AS "left", r AS "right", c AS pair_count FROM p1
UNION ALL SELECT 2, l, r, c FROM p2
UNION ALL SELECT 3, l, r, c FROM p3
""",
    tags=("bpe", "tokenizer", "iterative", "vocabulary"),
)
def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-loop vocabulary induction (Sennrich et al., ACL 2016;
    at word level = phrase induction a la word2phrase) — the engine's
    second iterative algorithm beside k-means: three merge rounds, each
    ONE corpus-wide pair count cut by TakeOrderedAndProject, the winning
    pair (a 2-string model artifact) broadcast into the next round's
    re-tokenization map stage. See operators.bpe.bpe_merges; the
    collected table rides the shared per-(application, sf_dir) memo."""
    rows = _bpe_merge_table(spark, sf_dir)
    return spark.createDataFrame(
        [(r["round"], r["left"], r["right"], r["pair_count"]) for r in rows],
        "round int, left string, right string, pair_count long",
    )


@_register(
    "bpe_encode_corpus",
    # The ENCODE half: train the 3-round merge table (same unrolled
    # chain as bpe_merge_rounds), apply every merge to every document,
    # and emit per-doc tokenization stats — the oracle replays train AND
    # apply, ending in one more fold with the round-3 pair.
    oracle=f"""
WITH t0 AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
p1 AS ({_bpe_top_pair_sql('t0')}),
t1 AS ({_bpe_fold_sql('t0', 'p1')}),
p2 AS ({_bpe_top_pair_sql('t1')}),
t2 AS ({_bpe_fold_sql('t1', 'p2')}),
p3 AS ({_bpe_top_pair_sql('t2')}),
t3 AS ({_bpe_fold_sql('t2', 'p3')}),
raw AS (SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens_raw FROM t0)
SELECT t3.doc_id,
       raw.n_tokens_raw,
       CAST(len(t3.t) AS INTEGER) AS n_tokens_bpe,
       CAST(raw.n_tokens_raw - len(t3.t) AS INTEGER) AS n_fused,
       t3.t[1] AS first_token
FROM t3 JOIN raw USING (doc_id)
""",
    tags=("bpe", "tokenizer", "encode", "text-analysis"),
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the LEARNED merge table — the encode
    half of the BPE surface (training alone ships no tokenizer). The
    merge table is the bounded driver artifact (3 (left,right) pairs,
    the same class as k-means centroids); applying it is one
    ``merge_pair_fold`` map stage per merge with NO shuffle — at 100 TB
    training runs on a sample while this pass runs corpus-wide, which
    is exactly how production tokenizers are fit and applied. Output:
    per-doc raw/encoded token counts, fused-token count, and the first
    encoded token (pins the actual token content, not just counts)."""
    from ..operators import bpe

    d = spread(T(spark, sf_dir, "documents"))
    table = _bpe_merge_table(spark, sf_dir)
    pairs = [(r["left"], r["right"]) for r in sorted(table, key=lambda r: r["round"])]
    enc = bpe.apply_merges(d, "doc_id", "text", pairs)
    return enc.select(
        F.col("id").alias("doc_id"),
        "n_tokens_raw",
        "n_tokens_bpe",
        "n_fused",
        F.get("tokens", 0).alias("first_token"),
    )


@_register(
    "bpe_vocab_coverage",
    # Tokenizer-evaluation report: how well the learned merge table
    # serves each LANGUAGE — per-lang fused-token share and compression
    # ratio in integer ppm. A tokenizer trained on a mixed corpus
    # compresses its majority language best; this is the report that
    # quantifies that skew before committing a vocab. Composes the
    # bpe_encode_corpus oracle verbatim (train + apply chains included).
    oracle=f"""
WITH enc AS ({{}}),
lab AS (
    SELECT d.lang, e.n_tokens_raw, e.n_tokens_bpe, e.n_fused
    FROM enc e JOIN documents d USING (doc_id)
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens_raw) AS BIGINT) AS tokens_raw,
       CAST(sum(n_tokens_bpe) AS BIGINT) AS tokens_bpe,
       CAST(sum(n_fused) * 1000000 // sum(n_tokens_raw) AS BIGINT) AS fused_ppm,
       CAST(sum(n_tokens_bpe) * 1000000 // sum(n_tokens_raw) AS BIGINT)
           AS compression_ppm
FROM lab GROUP BY lang
""".format(CATALOG["bpe_encode_corpus"].oracle),
    tags=("tokenizer", "bpe", "report", "curation"),
)
def bpe_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language coverage of the learned BPE merge table: fused-token
    share and encoded/raw compression in integer ppm — the tokenizer
    skew report. Adds one doc_id-keyed label join and a language-sized
    aggregate on top of the encode plan; sums are exact BIGINTs (the
    per-doc counts are integers), so there is no float surface."""
    enc = bpe_encode_corpus(spark, sf_dir).select(
        "doc_id", "n_tokens_raw", "n_tokens_bpe", "n_fused"
    )
    d = T(spark, sf_dir, "documents").select("doc_id", "lang")
    lab = enc.join(d, "doc_id")
    return lab.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens_raw").alias("tokens_raw"),
        F.sum("n_tokens_bpe").alias("tokens_bpe"),
        F.expr("sum(n_fused) * 1000000 div sum(n_tokens_raw)").alias(
            "fused_ppm"
        ),
        F.expr("sum(n_tokens_bpe) * 1000000 div sum(n_tokens_raw)").alias(
            "compression_ppm"
        ),
    )


# ===========================================================================
# Dedup-tier recall report (candidate-generation quality harness)
# ===========================================================================

def _dedup_recall_oracle() -> str:
    """Candidates come from the registered MinHash oracle verbatim (same
    composition trick as _ann_recall_oracle); the ground truth is the
    exact all-pairs 2-gram Jaccard on the same slice, unpruned."""
    cand = CATALOG["minhash_lsh_candidates"].oracle
    return f"""
WITH cand AS ({cand}),
d2 AS (
    -- evaluation panel: docs with >= 2 tokens only, so every arm's
    -- degenerate-doc convention (Spark [''] shingle vs zero shingles
    -- for empty/1-token docs) is moot and candidates stay a subset of
    -- truth by construction
    SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
    FROM documents
    WHERE doc_id < 200 AND trim(text) <> ''
          AND len(regexp_extract_all(text, '\\S+')) >= 2
), g2 AS (
    SELECT doc_id,
           list_distinct([list_aggr(t[i:i+1], 'string_agg', ' ')
                          for i in range(1, len(t))]) AS toks
    FROM d2
), s2 AS (
    SELECT doc_id, len(toks) AS nsh FROM g2
), p2 AS (
    SELECT doc_id, unnest(toks) AS tok FROM g2
), i2 AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
    FROM p2 a JOIN p2 b ON a.tok = b.tok AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), tru AS (
    SELECT id_a, id_b,
           round(inter / (sa.nsh + sb.nsh - inter), 6) AS j
    FROM i2
    JOIN s2 sa ON sa.doc_id = id_a
    JOIN s2 sb ON sb.doc_id = id_b
    WHERE round(inter / (sa.nsh + sb.nsh - inter), 6) >= 0.2
), th AS (SELECT unnest([0.2, 0.4, 0.6, 0.8]) AS threshold),
tn AS (
    SELECT threshold, count(t.id_a) AS n_truth
    FROM th LEFT JOIN tru t ON t.j >= threshold GROUP BY threshold
),
fn AS (
    SELECT threshold, count(c.id_a) AS n_found
    FROM th LEFT JOIN cand c ON c.jaccard >= threshold GROUP BY threshold
)
SELECT CAST(tn.threshold AS DOUBLE) AS threshold, tn.n_truth, fn.n_found,
       round(coalesce(fn.n_found / nullif(tn.n_truth, 0), 0), 6) AS recall
FROM tn JOIN fn USING (threshold)
"""


@_register(
    "dedup_recall_report",
    oracle=_dedup_recall_oracle(),
    tags=("dedup", "evaluation", "recall", "minhash"),
)
def dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash+LSH candidate tier against exact all-pairs
    Jaccard ground truth, per similarity threshold — the dedup twin of
    ann_recall_report, and the S-curve measurement that justifies a
    banding config before it runs on the real corpus (recall should
    climb toward 1 as similarity rises past the tier's ~0.2 operating
    point).

    Plan shape / 100 TB posture: the truth arm is the unpruned posting
    self-join — affordable ONLY on an evaluation slice (doc_id < 200
    here, a sampled panel in production), which is exactly how recall
    audits run at scale: the candidate tier runs corpus-wide, the
    exact arm runs on the panel. Threshold buckets ride a 4-row
    broadcast theta-join; counts are two tiny aggregates."""
    d = spread(
        T(spark, sf_dir, "documents").filter(
            (F.col("doc_id") < 200)
            & (text.whitespace_token_count(F.col("text")) >= 2)
        )
    )
    truth = dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", n=2, threshold=0.2, max_shingle_freq=None
    )
    cand = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=2, num_hashes=32, bands=8, threshold=0.2
    )
    th = spark.createDataFrame([(0.2,), (0.4,), (0.6,), (0.8,)], "threshold double")
    tn = (
        th.join(truth, truth["jaccard"] >= th["threshold"], "left")
        .groupBy("threshold")
        .agg(F.count("id_a").alias("n_truth"))
    )
    fn = (
        th.join(cand, cand["jaccard"] >= th["threshold"], "left")
        .groupBy("threshold")
        .agg(F.count("id_a").alias("n_found"))
    )
    return tn.join(fn, "threshold").select(
        "threshold",
        "n_truth",
        "n_found",
        F.round(
            F.coalesce(F.try_divide("n_found", F.nullif("n_truth", F.lit(0))), F.lit(0.0)),
            6,
        ).alias("recall"),
    )


@_register(
    "schema_drift_conform",
    # A drifted generation (doc_id re-typed INT, lang dropped, a crawl
    # metadata column added) conforms back to the canonical documents
    # schema: re-widened id, NULL lang, extras gone — replayed as casts.
    oracle="""
SELECT CAST(CAST(doc_id AS INTEGER) AS BIGINT) AS doc_id,
       text,
       CAST(NULL AS VARCHAR) AS lang,
       source,
       n_chars
FROM documents
""",
    tags=("sources", "schema", "incremental"),
)
def schema_drift_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift conformance (sources.readers.conform_schema): a
    later crawl generation re-typed the id, dropped ``lang``, and added
    a crawler column; conforming onto the canonical schema re-widens
    the id, materializes the dropped field as typed NULLs, and drops
    the extra — so the standing pipeline (unions, writers, dedup
    indexes keyed on the canonical order) runs unchanged. Map-only."""
    from ..sources.readers import conform_schema

    # no spread(): conformance is a cast-only projection — the documented
    # map-only/no-shuffle plan shape must actually hold
    d = T(spark, sf_dir, "documents")
    drifted = d.select(
        F.col("doc_id").cast("int").alias("doc_id"),
        "text",
        "source",
        "n_chars",
        F.lit("gen7").alias("crawl_gen"),
    )
    return conform_schema(
        drifted,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )


# ===========================================================================
# C4-style curation stages (Raffel et al., JMLR 2020 §2.2): line-level
# exact dedup + URL canonicalization/dedup
# ===========================================================================

#: C4's dedup unit is a three-SENTENCE span; this corpus has no sentence
#: punctuation, so the unit is a fixed 5-token segment — same role
#: (sub-document exact dedup), punctuation-free surrogate.
_LINE_SPAN = 5

_LINE_SPANS_SQL = f"""
WITH t AS (
    SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    WHERE len({_TOKENS_SQL}) >= 1
), g AS (
    SELECT doc_id,
           [{{'si': i,
              'h': {_sql_token_hash(f"list_aggr(toks[i*{_LINE_SPAN}+1:(i+1)*{_LINE_SPAN}], 'string_agg', ' ')")},
              'nt': len(toks[i*{_LINE_SPAN}+1:(i+1)*{_LINE_SPAN}])}}
            for i in range(0, (len(toks)+{_LINE_SPAN - 1})//{_LINE_SPAN})] AS spans
    FROM t
), s AS (
    SELECT doc_id, unnest(spans, recursive := true) FROM g
)
"""


@_register(
    "line_dedup_stats",
    oracle=f"""
{_LINE_SPANS_SQL},
m AS (
    SELECT h, min(doc_id * {1 << 20} + si) AS keeper FROM s GROUP BY h
),
j AS (
    SELECT s.doc_id, s.nt, (s.doc_id * {1 << 20} + s.si = m.keeper) AS kept
    FROM s JOIN m USING (h)
)
SELECT doc_id,
       count(*) AS n_spans,
       CAST(count(*) FILTER (NOT kept) AS BIGINT) AS n_dup_spans,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       CAST(coalesce(sum(nt) FILTER (kept), 0) AS BIGINT) AS n_tokens_kept
FROM j GROUP BY doc_id
""",
    tags=("dedup", "curation", "c4", "scale"),
    bench=True,
)
def line_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level exact dedup over the corpus (Raffel et al.,
    JMLR 2020 §2.2 "discard all but one of any three-sentence span
    occurring more than once" — 5-token segments standing in for
    sentences on this punctuation-free corpus), keep-FIRST in global
    (doc_id, span_idx) order. Per doc: span/dup-span/token counts and
    the token count surviving dedup.

    Plan shape / 100 TB posture: span hashes (31-bit longs, never the
    text) are the only corpus-wide payload; the keep-first winner is a
    packed-BIGINT primitive min (map-side combined), then one
    hash-colocated join + per-doc HashAggregate — two bounded-key
    shuffles, no window sort, no driver state. The reference's
    curation has no sub-document dedup; this extends the same
    training-data surface as duplicate_token_spans (which catches
    ARBITRARY-offset repeats; line dedup is the cheap aligned tier
    C4 actually ships)."""
    d = spread(T(spark, sf_dir, "documents")).filter(
        text.whitespace_token_count(F.col("text")) >= 1
    )
    return dedup.line_dedup_stats(d, "doc_id", "text", span=_LINE_SPAN)


#: Deterministic messy-URL synthesis: the corpus has no URL column, so
#: the entry DERIVES one per document from doc_id — ten docs
#: share each logical page, each arriving under a different real-world
#: variant (case, www, default port, dup/trailing slashes, tracking
#: params, fragments, query order). Both engines replay the identical
#: construction, so the canonicalizer's rule chain — not the synthesis —
#: is what the value hash gates.
_URL_VARIANTS_SPARK = None  # built inline in url_dedup_keep_newest


def _url_raw_spark():
    """Spark twin of :func:`_url_raw_sql` — the deterministic messy-URL
    synthesis over ``doc_id`` shared by every URL-surface entry."""
    g = F.expr("CAST(doc_id div 10 AS STRING)")
    base = F.concat(F.lit("https://example.com/docs/"), g)
    v = F.pmod("doc_id", F.lit(10))
    return (
        F.when(v == 0, base)
        .when(v == 1, F.concat(F.lit("HTTPS://EXAMPLE.COM/docs/"), g))
        .when(v == 2, F.concat(F.lit("https://www.example.com/docs/"), g))
        .when(v == 3, F.concat(F.lit("https://example.com:443/docs/"), g))
        .when(v == 4, F.concat(base, F.lit("/")))
        .when(v == 5, F.concat(F.lit("https://example.com//docs//"), g))
        .when(v == 6, F.concat(base, F.lit("?utm_source=feed&utm_campaign=spring")))
        .when(v == 7, F.concat(base, F.lit("#section-2")))
        .when(v == 8, F.concat(base, F.lit("?page=2&lang=he")))
        .otherwise(F.concat(base, F.lit("?lang=he&page=2&utm_medium=email")))
    )


def _url_raw_sql() -> str:
    g = "CAST(doc_id // 10 AS VARCHAR)"
    base = f"'https://example.com/docs/' || {g}"
    return f"""CASE doc_id % 10
  WHEN 0 THEN {base}
  WHEN 1 THEN 'HTTPS://EXAMPLE.COM/docs/' || {g}
  WHEN 2 THEN 'https://www.example.com/docs/' || {g}
  WHEN 3 THEN 'https://example.com:443/docs/' || {g}
  WHEN 4 THEN {base} || '/'
  WHEN 5 THEN 'https://example.com//docs//' || {g}
  WHEN 6 THEN {base} || '?utm_source=feed&utm_campaign=spring'
  WHEN 7 THEN {base} || '#section-2'
  WHEN 8 THEN {base} || '?page=2&lang=he'
  ELSE {base} || '?lang=he&page=2&utm_medium=email'
END"""


@_register(
    "url_dedup_keep_newest",
    oracle=f"""
WITH u AS (
    SELECT doc_id, {_url_raw_sql()} AS raw_url FROM documents
), c AS (
    SELECT doc_id, {urls.sql_canonicalize_url('raw_url')} AS canonical_url FROM u
)
SELECT canonical_url,
       max(doc_id) AS kept_doc_id,
       count(*) AS n_variants
FROM c GROUP BY canonical_url
""",
    tags=("dedup", "curation", "c4", "urls", "scale"),
    bench=True,
)
def url_dedup_keep_newest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + per-URL keep-newest dedup (C4 / CCNet's
    URL-level dedup; Raffel et al. 2020, Wenzek et al. 2020): messy
    real-world URL variants (case, www, default port, duplicate and
    trailing slashes, utm_*/gclid tracking params, fragments, reordered
    query strings) collapse to one canonical form per page, and the
    newest arrival (doc_id as the recency proxy — this corpus has no
    crawl timestamp) is kept with a variant count.

    Plan shape / 100 TB posture: canonicalization is a map-only JVM
    regexp/array-HOF chain at scan speed (functions/urls.py — no UDF,
    no shuffle); the dedup itself is ONE groupBy on the canonical key
    with primitive max/count (map-side combined). Variants 8/9 keep
    real query params in different orders — the sorted-rejoin path is
    exercised, and those pages form their own canonical group."""
    d = T(spark, sf_dir, "documents")
    # no spread(): the documented map-only + one-groupBy plan must hold
    return (
        d.select(F.col("doc_id"), urls.canonicalize_url(_url_raw_spark()).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.max("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


# ===========================================================================
# Bloom-filter approximate membership (incremental-crawl URL-seen set)
# ===========================================================================

#: deterministic 80/20-ish page split by GROUP so both outcome classes
#: exist: canonical groups with (doc_id//10) % 4 == 0 are BATCH-ONLY
#: (genuinely new pages — the false-positive test population), groups
#: % 4 == 1 appear in BOTH (true positives), groups % 4 in (2,3) are
#: index-only.
_BLOOM_INDEX_PRED = "(doc_id // 10) % 4 <> 0"      # DuckDB spelling
_BLOOM_BATCH_PRED = "(doc_id // 10) % 4 <= 1"
_BLOOM_INDEX_PRED_SPARK = "(doc_id div 10) % 4 <> 0"  # Spark SQL spelling
_BLOOM_BATCH_PRED_SPARK = "(doc_id div 10) % 4 <= 1"

_BLOOM_SQL_BASE = f"""
WITH u AS (
    SELECT doc_id, {urls.sql_canonicalize_url(_url_raw_sql())} AS curl FROM documents
), idx AS (
    SELECT DISTINCT curl FROM u WHERE {_BLOOM_INDEX_PRED}
), mm AS (
    SELECT greatest(64, {membership_mod.BITS_PER_KEY} * count(*)) AS m FROM idx
), bits AS (
    SELECT DISTINCT unnest(__POS_IDX__) AS pos FROM idx CROSS JOIN mm
), probes AS (
    SELECT DISTINCT curl AS key FROM u WHERE {_BLOOM_BATCH_PRED}
), p2 AS (
    SELECT key, unnest(__POS_KEY__) AS pos FROM probes CROSS JOIN mm
), probed AS (
    SELECT p2.key, count(b.pos) = {membership_mod.NUM_HASHES} AS maybe_seen
    FROM p2 LEFT JOIN bits b USING (pos)
    GROUP BY p2.key
)
"""


def _bloom_sql(select: str) -> str:
    # m rides in as a CROSS JOINed column — DuckDB forbids subqueries
    # inside lambda bodies, a plain column is fine
    pos_idx = membership_mod.sql_bloom_positions("curl", "m")
    pos_key = membership_mod.sql_bloom_positions("key", "m")
    return (
        _BLOOM_SQL_BASE.replace("__POS_IDX__", pos_idx).replace("__POS_KEY__", pos_key)
        + select
    )


# Shared Bloom build: the membership entry and its FPR certificate are
# two views over ONE filter — without sharing, each paid the full
# canonicalize-fold ~3x (the eager m-count plus both plan sides), ~28 s
# EACH at sf10/x100 (VERDICT r10 next #7). The index keys and the
# position table persist (narrow strings / BIGINTs — no array payload,
# so the minhash persist-demotes-broadcast hazard does not apply: every
# downstream join here is int-keyed and SMJ-honest at scale anyway); the
# first entry to execute populates them and the second rides the cache.
# The shared-result store (session.shared) owns both frames. Lineage
# stays intact, so an unpersist (e.g. scale_bench hygiene between
# queries) degrades to recompute, never to wrong answers.
def _bloom_parts(spark: SparkSession, sf_dir: str) -> dict:
    def build() -> dict:
        u = T(spark, sf_dir, "documents").select(
            "doc_id", urls.canonicalize_url(_url_raw_spark()).alias("curl")
        )
        idx = u.filter(F.expr(_BLOOM_INDEX_PRED_SPARK)).select("curl").distinct()
        n_index = pin(idx)
        m = membership_mod.bloom_m_for(n_index)
        bits = membership_mod.bloom_bits(idx, "curl", m).persist()
        batch = u.filter(F.expr(_BLOOM_BATCH_PRED_SPARK)).select("curl")
        return {"idx": idx, "bits": bits, "batch": batch, "m": m, "n_index": n_index}

    return shared(spark, sf_dir, "documents", "bloom", build)


@_register(
    "bloom_url_membership",
    oracle=_bloom_sql("SELECT key AS canonical_url, maybe_seen FROM probed"),
    tags=("dedup", "membership", "bloom", "incremental", "urls", "scale"),
    bench=True,
)
def bloom_url_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter URL-seen probe (Bloom, CACM 1970;
    Kirsch/Mitzenmacher 2006 double hashing) — the incremental-crawl
    front gate: a new batch of canonicalized URLs asks "ever indexed?"
    against the standing corpus WITHOUT shipping the corpus's key set.
    maybe_seen=false is exact (no false negatives); true is approximate
    at ~0.8% theoretical FPR (10 bits/key, k=7, both derived from the
    index count in-plan and replayed by the oracle).

    Plan shape / 100 TB posture: the filter's set bits are a
    distributed int-position table (explode + distinct, ∝ 7·n rows of
    one BIGINT), the probe is explode + semi-style left join + per-key
    count==k — int-only shuffles, no key strings past the first
    projection, no driver-side bitmap. Composes the urls.py
    canonicalizer, so scheme/www/port/tracking variants of an indexed
    page correctly test as SEEN. The filter build (index keys +
    position table) is shared with bloom_fpr_certificate via
    _bloom_parts — one corpus fold between the pair (VERDICT r10 #7)."""
    p = _bloom_parts(spark, sf_dir)
    return membership_mod.bloom_membership(
        p["batch"], p["idx"], "curl", p["m"], bits=p["bits"]
    ).select(F.col("key").alias("canonical_url"), "maybe_seen")


@_register(
    "bloom_fpr_certificate",
    oracle=_bloom_sql(f"""
, truth AS (
    SELECT p.key, p.maybe_seen, (p.key IN (SELECT curl FROM idx)) AS truly_seen
    FROM probed p
)
SELECT (SELECT count(*) FROM idx) AS n_index_keys,
       count(*) AS n_probes,
       CAST(count(*) FILTER (truly_seen) AS BIGINT) AS n_truly_seen,
       CAST(count(*) FILTER (maybe_seen AND NOT truly_seen) AS BIGINT) AS n_false_positive,
       CAST(count(*) FILTER (NOT maybe_seen AND truly_seen) AS BIGINT) AS n_false_negative,
       CAST(count(*) FILTER (maybe_seen AND NOT truly_seen) * 1000000
            // nullif(count(*) FILTER (NOT truly_seen), 0) AS BIGINT) AS fpr_measured_ppm,
       CAST(round(pow(1 - exp(-{membership_mod.NUM_HASHES}.0 / {membership_mod.BITS_PER_KEY}), {membership_mod.NUM_HASHES}) * 1000000) AS BIGINT) AS fpr_theory_ppm
FROM truth
"""),
    tags=("dedup", "membership", "bloom", "evaluation", "certificate"),
)
def bloom_fpr_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom probe's accuracy certificate (the sketch_accuracy /
    ann_recall discipline applied to membership): exact ground truth by
    anti/semi join on the canonical key, then counts of true positives,
    false positives, and — load-bearing — FALSE NEGATIVES, which a
    correct Bloom filter can NEVER produce (the oracle and every run
    must show 0; a nonzero value means the hash family or bit table
    diverged). Measured FPR in integer ppm over the truly-absent
    population, beside the theoretical (1-e^(-k·n/m))^k at the derived
    sizing (n/m fixed at 1/10 by construction, so the theory term is a
    constant both engines compute identically up to a transcendental
    1-ulp — measure-zero for the 6-figure rounding).

    Scale posture: adds one exact semi-probe (broadcast at panel sizes,
    int-keyed SMJ at scale) and a single-row aggregate on top of the
    membership plan — whose filter build (index keys + position table)
    it SHARES via _bloom_parts, so the pair pays the corpus fold once
    between them (VERDICT r10 #7)."""
    membership = membership_mod
    p = _bloom_parts(spark, sf_dir)
    idx, m = p["idx"], p["m"]
    probed = membership.bloom_membership(
        p["batch"], idx, "curl", m, bits=p["bits"]
    )
    truth = probed.join(
        idx.withColumn("truly_seen", F.lit(True)),
        probed["key"] == idx["curl"],
        "left",
    ).select("key", "maybe_seen", F.coalesce("truly_seen", F.lit(False)).alias("truly_seen"))
    k, bpk = membership.NUM_HASHES, membership.BITS_PER_KEY
    theory = F.round(
        F.pow(F.lit(1.0) - F.exp(F.lit(-float(k) / bpk)), F.lit(k)) * 1_000_000
    ).cast("long")
    return truth.agg(
        F.lit(p["n_index"]).alias("n_index_keys"),
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.when(F.col("truly_seen"), 1).otherwise(0)).alias("n_truly_seen"),
        F.sum(F.when(F.col("maybe_seen") & ~F.col("truly_seen"), 1).otherwise(0)).alias(
            "n_false_positive"
        ),
        F.sum(F.when(~F.col("maybe_seen") & F.col("truly_seen"), 1).otherwise(0)).alias(
            "n_false_negative"
        ),
        F.expr(
            "CAST(sum(CASE WHEN maybe_seen AND NOT truly_seen THEN 1 ELSE 0 END) * 1000000"
            " div nullif(sum(CASE WHEN NOT truly_seen THEN 1 ELSE 0 END), 0) AS BIGINT)"
        ).alias("fpr_measured_ppm"),
        theory.alias("fpr_theory_ppm"),
    )


# ===========================================================================
# Count-Min frequency sketch (approximate token counts + certificate)
# ===========================================================================

#: deterministic probe panel: the 20 heaviest tokens (exact-count desc,
#: token asc tiebreak) — where collisions matter most — plus 5 tokens
#: that do NOT occur, whose estimates expose pure collision mass.
_CM_ABSENT = ("zzabsent0", "zzabsent1", "zzabsent2", "zzabsent3", "zzabsent4")


@_register(
    "cm_sketch_token_freq",
    oracle=f"""
WITH t AS (
    SELECT unnest({_TOKENS_SQL}) AS token FROM documents
), ex AS (
    SELECT token, count(*) AS n FROM t GROUP BY token
), tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS total FROM ex
), cells AS (
    SELECT n, unnest({freqsketch_mod.sql_cm_positions('token')}, recursive := true) FROM ex
), sk AS (
    SELECT r, p, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY r, p
), probes AS (
    (SELECT token FROM ex ORDER BY n DESC, token LIMIT 20)
    UNION ALL
    SELECT unnest({list(_CM_ABSENT)})
), pc AS (
    SELECT token, unnest({freqsketch_mod.sql_cm_positions('token')}, recursive := true) FROM probes
), est AS (
    SELECT pc.token, min(coalesce(sk.c, 0)) AS cm_estimate
    FROM pc LEFT JOIN sk USING (r, p) GROUP BY pc.token
)
SELECT est.token,
       coalesce(ex.n, 0) AS exact_count,
       est.cm_estimate,
       est.cm_estimate - coalesce(ex.n, 0) AS overestimate,
       (est.cm_estimate - coalesce(ex.n, 0))
         <= CAST(ceil(2.718281828459045 * (SELECT total FROM tot) / {freqsketch_mod.WIDTH}) AS BIGINT)
         AS within_eps
FROM est LEFT JOIN ex USING (token)
""",
    tags=("sketch", "frequency", "cm", "evaluation", "certificate", "scale"),
    bench=True,
)
def cm_sketch_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus token stream with its accuracy
    certificate (Cormode & Muthukrishnan 2005): d·w = 4×2048 counters
    estimate any token's frequency with estimate ≥ exact ALWAYS
    (overestimate must never go negative — a negative value means the
    hash replay diverged) and overestimate ≤ ⌈e/w · N⌉ with prob.
    1−e⁻⁴ per key, reported as within_eps per probe. Probes: the 20
    heaviest tokens plus 5 never-seen tokens whose estimates expose
    pure collision mass.

    Plan shape / 100 TB posture: one token-keyed exact aggregate (the
    certificate's ground truth — production skips it and keeps only
    the sketch), one explode of d=4 cells per DISTINCT token + a
    (r,p)-keyed HashAggregate into ≤8192 counter rows, and a probe join
    that always broadcasts (the sketch is fixed-size BY CONTRACT — the
    one knob family that must NOT derive from the corpus count: CM
    trades memory for ε·N absolute error, relative error is
    size-invariant)."""
    from ..operators import freqsketch

    toks = T(spark, sf_dir, "documents").select(
        F.explode(text.whitespace_tokens(F.col("text"))).alias("token")
    )
    ex = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    sk = freqsketch.cm_sketch(ex, "token", "n")
    top = ex.orderBy(F.col("n").desc(), F.col("token")).limit(20).select("token")
    absent = spark.createDataFrame([(a,) for a in _CM_ABSENT], "token string")
    probes = top.unionAll(absent)
    est = freqsketch.cm_estimate(probes, sk, "token")
    total = ex.agg(F.sum("n")).collect()[0][0] or 0
    bound = int(math.ceil(2.718281828459045 * total / freqsketch.WIDTH))
    return (
        est.join(ex, est["key"] == ex["token"], "left")
        .select(
            F.col("key").alias("token"),
            F.coalesce(F.col("n"), F.lit(0)).alias("exact_count"),
            "cm_estimate",
            (F.col("cm_estimate") - F.coalesce(F.col("n"), F.lit(0))).alias(
                "overestimate"
            ),
            (
                (F.col("cm_estimate") - F.coalesce(F.col("n"), F.lit(0)))
                <= F.lit(bound)
            ).alias("within_eps"),
        )
    )
