"""B.10 text-analysis operators over the ``documents`` corpus (Q46, Q47
+ training-data-pipeline extensions: language-ID, quality scoring,
token counting, document fingerprinting).

Everything here is JVM-side Catalyst expressions — higher-order array
functions (``transform``/``filter``/``aggregate``) over the canonical
single-space tokenizer, no Python in the data path. Each query shuffles
at most once on a low-cardinality key (lang/source), so the shapes
survive 100 TB: the per-document work is embarrassingly parallel and
whole-stage-codegen'd, and the aggregations combine map-side.

Reference analog: the per-record keyed transform pipeline
(Workers.java:123-223) — here the "operations" are text metrics instead
of PDF conversions, with the same row-in/row-out error-free shape.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_map_reduce_spark.functions.det import r6d
from project_map_reduce_spark.registry import fmt_doc, register
from project_map_reduce_spark.tables import load


@register(
    "q_text_stats",
    oracle="""
    SELECT lang,
           count(*)                                        AS n_docs,
           round(avg(len(string_split(text, ' '))), 6)     AS avg_tokens,
           round(avg(n_chars), 6)                          AS avg_chars,
           CAST(max(len(string_split(text, ' '))) AS INT)  AS max_tokens
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q46: per-language corpus stats (doc counts, avg tokens, avg chars)."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r6d(F.avg(n_tok), "avg_tokens"),
        r6d(F.avg("n_chars"), "avg_chars"),
        F.max(n_tok).alias("max_tokens"),
    )


@register(
    "q_text_tfidf",
    oracle="""
    WITH words AS (
        SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (SELECT lang, word, count(*) AS tf FROM words GROUP BY lang, word),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    nl AS (SELECT count(DISTINCT lang) AS n_langs FROM documents),
    scored AS (
        SELECT tf.lang, tf.word,
               round(tf.tf * ln(nl.n_langs * 1.0 / df.df), 6) AS tfidf,
               row_number() OVER (
                   PARTITION BY tf.lang
                   ORDER BY round(tf.tf * ln(nl.n_langs * 1.0 / df.df), 6) DESC,
                            tf.word ASC
               ) AS rn
        FROM tf JOIN df USING (word) CROSS JOIN nl
    )
    SELECT lang, word AS top_term, tfidf FROM scored WHERE rn = 1
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q47: top TF-IDF term per language (manual, deterministic — no ml
    randomized hashing, so it is oracle-able).

    Scale shape: explode → two hash aggregations (lang×word, then word)
    with map-side combine, a broadcast of the tiny df/n_langs side, and
    one window partitioned by lang. Shuffle volume is O(vocab), not
    O(tokens).
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    words = d.select("lang", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_langs = d.agg(F.countDistinct("lang").alias("n_langs"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n_langs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_langs") * 1.0 / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("word").alias("top_term"), "tfidf")
    )


# Marker-token language scorer: deterministic n-gram-style heuristic.
# The fixture vocabulary is shared across langs (FIXTURES.md), so the
# markers are arbitrary-but-fixed vocabulary words; the operator shape
# (per-doc scoring + argmax with fixed tiebreak) is what matters.
_MARKERS = {
    "en": ("the", "a"),
    "es": ("data", "table"),
    "de": ("batch", "merge"),
    "fr": ("query", "line"),
    "zh": ("vector", "stream"),
}
_TIEBREAK = ("en", "es", "de", "fr", "zh")


def _score_sql(lang: str, spark_side: bool) -> str:
    toks = ", ".join(f"'{t}'" for t in _MARKERS[lang])
    if spark_side:
        return f"size(filter(split(text, ' '), t -> t IN ({toks})))"
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({toks})))"


def _pred_case() -> str:
    # Argmax with deterministic tiebreak order _TIEBREAK (>= keeps the
    # earlier language on ties). Identical SQL text for both engines.
    clauses = []
    langs = list(_TIEBREAK)
    for i, lang in enumerate(langs[:-1]):
        rest = ", ".join(f"s_{x}" for x in langs[i + 1 :])
        g = f"greatest({rest})" if "," in rest else rest
        clauses.append(f"WHEN s_{lang} >= {g} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"


_LANG_ID_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {", ".join(f"{_score_sql(l, False)} AS s_{l}" for l in _TIEBREAK)}
        FROM documents
    )
    SELECT doc_id,
           {_pred_case()} AS pred_lang,
           CAST(greatest({", ".join("s_" + l for l in _TIEBREAK)}) AS INT) AS top_score,
           ({_pred_case()}) = lang AS is_match
    FROM scored
"""


@register("q_lang_id", oracle=_LANG_ID_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token scoring + deterministic argmax.

    Per-row narrow transform — no shuffle at all; at 100 TB this is a
    pure map stage fused into the scan by whole-stage codegen.
    """
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        *[F.expr(_score_sql(l, True)).alias(f"s_{l}") for l in _TIEBREAK],
    )
    pred = F.expr(_pred_case())
    return scored.select(
        "doc_id",
        pred.alias("pred_lang"),
        F.expr("greatest(" + ", ".join("s_" + l for l in _TIEBREAK) + ")")
        .cast("int")
        .alias("top_score"),
        (pred == F.col("lang")).alias("is_match"),
    )


_STOPWORDS = ("the", "a")
_STOP_IN = ", ".join(f"'{t}'" for t in _STOPWORDS)


@register(
    "q_text_quality",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               length(replace(text, ' ', '')) AS n_nonspace,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ({_STOP_IN}))) AS n_stop
        FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           round(n_nonspace * 1.0 / n_tokens, 6) AS avg_token_len,
           round(n_stop * 1.0 / n_tokens, 6) AS stopword_ratio,
           round(least(n_tokens / 50.0, 1.0) * (1 - n_stop * 1.0 / n_tokens), 6)
               AS quality_score,
           round(least(n_tokens / 50.0, 1.0) * (1 - n_stop * 1.0 / n_tokens), 6) < 0.5
               AS low_quality
    FROM m
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword-ratio heuristics per document.

    Same shuffle-free map shape as q_lang_id.
    """
    d = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    m = d.select(
        "doc_id",
        F.size(ws).alias("n_tokens"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("n_nonspace"),
        F.expr(
            f"size(filter(split(text, ' '), t -> t IN ({_STOP_IN})))"
        ).alias("n_stop"),
    )
    nt = F.col("n_tokens")
    quality = F.round(
        F.least(nt / 50.0, F.lit(1.0)) * (1 - F.col("n_stop") * 1.0 / nt), 6
    )
    return m.select(
        "doc_id",
        nt.cast("int").alias("n_tokens"),
        F.round(F.col("n_nonspace") * 1.0 / nt, 6).alias("avg_token_len"),
        F.round(F.col("n_stop") * 1.0 / nt, 6).alias("stopword_ratio"),
        quality.alias("quality_score"),
        (quality < 0.5).alias("low_quality"),
    )


# BPE-ish lexer: letter runs, digit runs, single other non-space chars.
_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "q_token_count",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS total_re_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex lexer tokens,
    aggregated per source. regexp_count is codegen'd JVM regex — the
    100 TB path tokenizes in the scan stage and combines map-side."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_ws_tokens"),
        F.sum(F.regexp_count("text", F.lit(_TOKEN_RE))).alias("total_re_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


# Polynomial rolling hash over tokens: token → ascii(first char)*131 +
# length, folded with acc*31 + x (mod 1e9+7). Pure integer arithmetic —
# bit-identical across engines (verified primitive-by-primitive).
_ROLL_DUCK = (
    "list_reduce(list_prepend(7::BIGINT, "
    "list_transform(string_split(text, ' '), t -> (ascii(t)*131 + length(t))::BIGINT)), "
    "(a, x) -> (a*31 + x) % 1000000007)"
)

_ROLL_MOD = 1_000_000_007


def _rolling_hash_udf():
    """Arrow-batched numpy evaluation of the rolling hash.

    A Catalyst ``aggregate`` fold over the token array runs interpreted
    (no codegen for HOF lambdas) at O(tokens) lambda dispatches per row
    — measured ~46s for the sf0.1 corpus. The fold
    ``a_{i+1} = a_i*31 + x_i (mod p)`` is a polynomial, so it vectorizes
    exactly: fp = (7·31ⁿ + Σ xᵢ·31^{n-1-i}) mod p with precomputed
    power tables. Integer arithmetic is identical to the fold —
    products stay < 2⁶³ (x < 2²⁵, 31^k mod p < 2³⁰).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def _roll(texts: pd.Series) -> pd.Series:
        import numpy as np

        docs = [t.split(" ") for t in texts]
        n_toks = np.fromiter((len(d) for d in docs), dtype=np.int64, count=len(docs))
        total = int(n_toks.sum())
        if total == 0:
            return pd.Series(np.full(len(docs), 7, dtype=np.int64))
        x = np.fromiter(
            ((ord(t[0]) if t else 0) * 131 + len(t) for d in docs for t in d),
            dtype=np.int64,
            count=total,
        )
        max_n = int(n_toks.max())
        pow31 = np.ones(max_n + 1, dtype=np.int64)
        for i in range(1, max_n + 1):
            pow31[i] = (pow31[i - 1] * 31) % _ROLL_MOD
        starts = np.zeros(len(docs), dtype=np.int64)
        np.cumsum(n_toks[:-1], out=starts[1:])
        pos = np.arange(total, dtype=np.int64) - np.repeat(starts, n_toks)
        exp = np.repeat(n_toks, n_toks) - 1 - pos
        terms = (x % _ROLL_MOD) * pow31[exp] % _ROLL_MOD
        # Per-doc partial sums: bound segment length so the running sum
        # stays < 2^63 (each term < 2^30; 2^33 terms would overflow —
        # docs are far shorter, but mod the reduceat result anyway).
        sums = np.add.reduceat(terms, starts) % _ROLL_MOD
        fp = (7 * pow31[n_toks] + sums) % _ROLL_MOD
        return pd.Series(fp)

    return _roll


@register(
    "q_doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS fp_md5,
           {_ROLL_DUCK} AS fp_rolling
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 content hash + token rolling hash.

    Shuffle-free map; downstream exact dedup groups on fp_md5 so the
    shuffle key is a fixed-width hash, not the document body — at 100 TB
    that is the difference between shuffling 32-byte keys and shuffling
    the corpus (ref analog: result lines keyed by short job key,
    Manager.java:281). md5 stays JVM-side (codegen'd); the rolling hash
    is a vectorized Arrow batch (see _rolling_hash_udf)."""
    d = load(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp_md5"),
        _rolling_hash_udf()("text").alias("fp_rolling"),
    )


@register(
    "q_split_train_val",
    oracle="""
    SELECT CASE WHEN substr(md5(text), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
                WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
                ELSE 'test' END AS split,
           lang,
           count(*) AS n_docs,
           round(avg(len(string_split(text, ' '))), 6) AS avg_tokens
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, leakage-safe train/val/test split (75/12.5/12.5).

    The split key is the first hex char of md5(text) — a CONTENT hash,
    so byte-identical documents always land in the same split even when
    duplicated across sources (row-id or random splits leak duplicates
    across train/eval; this is the standard fix in training-data
    pipelines). Assignment is a narrow shuffle-free map (md5 is
    codegen'd JVM); the only shuffle is the final tiny (split, lang)
    aggregate. At 100 TB the same expression works as a partition
    filter: ``WHERE substr(md5(text),1,1) BETWEEN '0' AND 'b'``
    prunes at scan time with no precomputed split column needed."""
    d = load(spark, sf_dir, "documents")
    first_hex = F.substring(F.md5(F.col("text").cast("binary")), 1, 1)
    split = (
        F.when(first_hex.between("0", "b"), "train")
        .when(first_hex.isin("c", "d"), "val")
        .otherwise("test")
    )
    return (
        d.select(
            split.alias("split"),
            "lang",
            F.size(F.split("text", " ")).alias("__n_tok"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            r6d(F.avg("__n_tok"), "avg_tokens"),
        )
    )


@register(
    "q_doc_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    model AS (
        SELECT w, count(*) AS c FROM tok GROUP BY w
    ),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM model),
    scored AS (
        SELECT t.doc_id, t.lang,
               round(ln(m.c / tot.n), 6) AS lp
        FROM tok t JOIN model m ON t.w = m.w CROSS JOIN tot
    )
    SELECT lang,
           count(DISTINCT doc_id) AS n_docs,
           round(avg(lp), 6) AS avg_token_logprob,
           round(min(lp), 6) AS min_token_logprob
    FROM scored
    GROUP BY lang
    """,
)
def q_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q88: corpus-LM quality scoring (the CCNet/KenLM filter shape):
    score every token by its log-probability under the corpus's own
    unigram model, aggregate per language. Two passes, both scale-safe:
    (1) the model = word counts (Q37's explode + map-side-combined
    groupBy, shuffle O(vocab)); (2) scoring joins tokens to the model
    on the word key — at test scale Catalyst broadcasts the vocab, at
    100 TB it's a shuffle join on the zipfian word key whose hot head
    ("the") is exactly what AQE skew-split / the salted join
    (operators/skew.py) exist for. Per-token ln() values are rounded
    6dp BEFORE averaging (libm vs JVM Math.log differ in the last ulp;
    both engines' rounded values coincide far above that)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    model = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # total = Σ per-type counts = corpus token count = Σ size(split) —
    # one NARROW scan instead of re-running the explode + vocab groupBy
    # at plan-build time (round-13, guide §1.2 fewer passes; the model
    # groupBy still runs exactly once, inside the returned plan). ANSI
    # null semantics match the exploded form: size(NULL) is NULL and
    # sum skips it, as explode(NULL) emits no rows.
    # `or 1.0`: empty-corpus sum is NULL; any non-zero base keeps the
    # (empty) plan well-typed instead of TypeError-ing on float(None).
    total = float(
        d.select(
            F.sum(F.size(F.split("text", " "))).alias("t")
        ).first()[0]
        or 1.0
    )
    scored = tok.join(model, "w").select(
        "doc_id",
        "lang",
        F.round(F.log(F.col("c") / F.lit(total)), 6).alias("lp"),
    )
    return scored.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        r6d(F.avg("lp"), "avg_token_logprob"),
        r6d(F.min("lp"), "min_token_logprob"),
    )


_QC_BUCKETS = 64
_QC_BIAS = -3


@register(
    "q_quality_classifier",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id, lang,
           CAST({_QC_BIAS} + CASE WHEN len(t) < 2 THEN 0 ELSE list_sum(
               list_transform(range(1, len(t)),
                   i -> (CAST(('0x' || substr(md5(t[i] || '_' || t[i+1]), 1, 6))
                              AS BIGINT) % {_QC_BUCKETS}) * 37 % 21 - 10))
           END AS BIGINT) AS logit,
           CASE WHEN {_QC_BIAS} + CASE WHEN len(t) < 2 THEN 0 ELSE list_sum(
               list_transform(range(1, len(t)),
                   i -> (CAST(('0x' || substr(md5(t[i] || '_' || t[i+1]), 1, 6))
                              AS BIGINT) % {_QC_BUCKETS}) * 37 % 21 - 10))
           END >= 0 THEN 'keep' ELSE 'drop' END AS quality_label
    FROM toks
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the CCNet / LLaMA-pipeline
    fasttext step, restated engine-exactly): a linear classifier over
    hashed token-BIGRAM features scores every document in one
    shuffle-free codegen'd map — bucket = first-6-hex-of-md5(bigram)
    mod {b} (the feature-hashing trick), per-bucket integer weight
    derived from the bucket id (a stand-in for trained weights with
    the identical plan shape), logit = bias + Σ weights, label =
    keep/drop at logit ≥ 0.

    Integer arithmetic END TO END — hash, weights, fold — so the
    driver hash is exact with no rounding contract at all; a real
    trained model swaps the weight expression for a broadcast
    float-weight array and everything else (hashing, fold, plan
    shape) stays identical.

    100 TB shape: zero shuffles, zero joins — the score rides the
    ingest scan like Q69's PII scrub (filters on quality_label push
    into the same stage). Per-row cost is O(tokens), Catalyst HOFs,
    never a Python UDF.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )
    logit = F.expr(
        f"""
        CAST({_QC_BIAS} AS BIGINT) + CASE
          WHEN size(toks) < 2 THEN CAST(0 AS BIGINT)
          ELSE aggregate(
            transform(sequence(0, size(toks) - 2),
              i -> (CAST(conv(substr(md5(cast(concat(toks[i], '_',
                         toks[i+1]) as binary)), 1, 6), 16, 10) AS BIGINT)
                    % {_QC_BUCKETS}) * 37 % 21 - 10),
            CAST(0 AS BIGINT), (s, x) -> s + x)
        END"""
    ).alias("logit")
    return d.select("doc_id", "lang", logit).withColumn(
        "quality_label",
        F.when(F.col("logit") >= 0, "keep").otherwise("drop"),
    )


fmt_doc(q_quality_classifier, b=_QC_BUCKETS)


_QCT_GOOD_MIN = 30  # fit labels: docs with >= this many tokens are "good"
_QCT_SCALE = 1000  # weight quantization: round(SCALE * ln-odds) -> int


def _round_half_away(x: float) -> int:
    """round-half-away-from-zero — DuckDB's round() rule, so the
    Python-side fit quantizes weights exactly like the oracle's SQL."""
    import math

    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _qct_bucket_sql_duck(a: str, b: str) -> str:
    return (
        f"(CAST(('0x' || substr(md5({a} || '_' || {b}), 1, 6)) AS BIGINT)"
        f" % {_QC_BUCKETS})"
    )


@register(
    "q_quality_classifier_trained",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    lab AS (SELECT doc_id, t, len(t) >= {_QCT_GOOD_MIN} AS good FROM toks),
    bg AS (
        SELECT good, {_qct_bucket_sql_duck('t[i]', 't[i+1]')} AS bkt
        FROM lab, LATERAL (SELECT unnest(range(1, len(t))) AS i) s
        WHERE len(t) >= 2
    ),
    cnt AS (
        SELECT bkt,
               sum(CASE WHEN good THEN 1 ELSE 0 END) AS g,
               sum(CASE WHEN good THEN 0 ELSE 1 END) AS bb
        FROM bg GROUP BY bkt
    ),
    w AS (
        SELECT r.bkt,
               CAST(round({_QCT_SCALE} * ln(
                   (coalesce(cnt.g, 0) + 1.0) / (coalesce(cnt.bb, 0) + 1.0)
               )) AS BIGINT) AS wt
        FROM (SELECT unnest(range(0, {_QC_BUCKETS})) AS bkt) r
        LEFT JOIN cnt ON r.bkt = cnt.bkt
    ),
    wa AS (SELECT list(wt ORDER BY bkt) AS warr FROM w),
    prior AS (
        SELECT CAST(round({_QCT_SCALE} * ln(
            (sum(CASE WHEN good THEN 1 ELSE 0 END) + 1.0)
            / (sum(CASE WHEN good THEN 0 ELSE 1 END) + 1.0)
        )) AS BIGINT) AS bias FROM lab
    )
    SELECT doc_id, lang,
           CAST(prior.bias + CASE WHEN len(t) < 2 THEN 0 ELSE list_sum(
               list_transform(range(1, len(t)),
                   i -> wa.warr[{_qct_bucket_sql_duck('t[i]', 't[i+1]')} + 1]))
           END AS BIGINT) AS logit,
           CASE WHEN prior.bias + CASE WHEN len(t) < 2 THEN 0 ELSE list_sum(
               list_transform(range(1, len(t)),
                   i -> wa.warr[{_qct_bucket_sql_duck('t[i]', 't[i+1]')} + 1]))
           END >= 0 THEN 'keep' ELSE 'drop' END AS quality_label
    FROM toks, wa, prior
    """,
)
def q_quality_classifier_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q106: the TRAINED-weights form Q102's docstring promises — same
    hashed token-bigram features, but per-bucket weights FIT from the
    corpus itself: one naive-Bayes-style pass labels docs good/bad
    (token count ≥ {m} — a deterministic stand-in for human labels),
    counts each hash bucket's occurrences under both labels, and the
    weight is the log-odds ratio quantized to 1/{sc} (the integer
    quantization every production int8/int16 classifier ships with —
    and what keeps the scoring fold integer-exact, no float-sum order
    contract). Bias = quantized doc-level prior log-odds.

    Plan: the fit is ONE tiny training job at plan-build time —
    explode → per-bucket partial+final agg (shuffle O({b} buckets),
    with a sentinel bucket −1 carrying the doc-level prior so the
    bucket counts and the prior share one corpus pass) — whose O({b})
    result is collected and baked into the scoring plan as a LITERAL
    weight array (the kmeans / SQ8-stats model pattern: O(model)
    crosses the cluster boundary, never O(data)). The returned scoring plan is IDENTICAL in shape to
    Q102: element_at(weights, bucket+1) inside one codegen'd HOF fold,
    zero shuffles, zero joins, no Python eval (asserted by its contract
    in tools/plan_rules.py). The oracle re-derives fit AND scoring
    in SQL, so training and inference are hash-checked together.
    """
    import math

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )
    bucket = (
        f"(CAST(conv(substr(md5(cast(concat(toks[i], '_', toks[i+1])"
        f" as binary)), 1, 6), 16, 10) AS BIGINT) % {_QC_BUCKETS})"
    )
    # -- fit (ONE O(model)-output training job, executed now) ---------
    # Bucket counts and the doc-level prior share a single scan+split+
    # explode+agg pass (round-13, guide §2.4 remove-passes): every doc
    # emits one sentinel bucket −1 row carrying its label (sum over the
    # −1 group = (ng, nb) exactly — one row per doc), and docs with ≥2
    # tokens additionally emit their bigram buckets, identical to the
    # former where(size≥2) pre-filter. Formerly two sequential jobs,
    # each paying the full corpus scan + split.
    good = (F.size("toks") >= _QCT_GOOD_MIN).cast("int")
    cnts = (
        d.select(
            good.alias("g"),
            F.explode(
                F.concat(
                    F.array(F.lit(-1).cast("bigint")),
                    F.when(
                        F.size("toks") >= 2,
                        F.expr(
                            f"transform(sequence(0, size(toks) - 2),"
                            f" i -> {bucket})"
                        ),
                    ).otherwise(F.expr("CAST(array() AS array<bigint>)")),
                )
            ).alias("bkt"),
        )
        .groupBy("bkt")
        .agg(
            F.sum("g").alias("g"),
            F.sum(F.lit(1) - F.col("g")).alias("b"),
        )
        .collect()
    )
    by_bkt = {int(r["bkt"]): (int(r["g"]), int(r["b"])) for r in cnts}
    ng, nb = by_bkt.pop(-1, (0, 0))
    weights = [
        _round_half_away(
            _QCT_SCALE
            * math.log(
                (by_bkt.get(i, (0, 0))[0] + 1.0)
                / (by_bkt.get(i, (0, 0))[1] + 1.0)
            )
        )
        for i in range(_QC_BUCKETS)
    ]
    bias = _round_half_away(
        _QCT_SCALE * math.log((int(ng) + 1.0) / (int(nb) + 1.0))
    )
    # -- scoring: Q102's exact shuffle-free shape, literal model ------
    w_csv = ", ".join(str(w) for w in weights)
    logit = F.expr(
        f"""
        CAST({bias} AS BIGINT) + CASE
          WHEN size(toks) < 2 THEN CAST(0 AS BIGINT)
          ELSE aggregate(
            transform(sequence(0, size(toks) - 2),
              i -> element_at(array({w_csv}), CAST({bucket} AS INT) + 1)),
            CAST(0 AS BIGINT), (s, x) -> s + x)
        END"""
    ).alias("logit")
    return d.select("doc_id", "lang", logit).withColumn(
        "quality_label",
        F.when(F.col("logit") >= 0, "keep").otherwise("drop"),
    )


fmt_doc(
    q_quality_classifier_trained,
    m=_QCT_GOOD_MIN,
    sc=_QCT_SCALE,
    b=_QC_BUCKETS,
)


_BPE_K = 128  # fit vocabulary: top-K words by (count DESC, word ASC)
_BPE_M = 8  # merge-table size


def _bpe_oracle(merges: int = _BPE_M, k: int = _BPE_K) -> str:
    """The trained tokenizer re-derived entirely in SQL: the FIT is
    ``merges`` unrolled CTE rounds (the PageRank-oracle pattern — each
    round extracts adjacent symbol pairs from the current vocab,
    argmaxes by (weighted count DESC, pair ASC), and applies the merge
    with one ``replace``), then the scoring chain applies the same
    ``merges`` scalar-subquery replaces to every document. MATERIALIZED
    is load-bearing: DuckDB inlines plain CTEs, and the doubly-chained
    p/v references would re-evaluate the fit exponentially (measured:
    >120 s inlined, 0.5 s materialized at sf0.001)."""
    parts = [
        f"""w0 AS MATERIALIZED (
      SELECT w AS word, count(*) AS cnt
      FROM (SELECT unnest(string_split(replace(text, '~', ''), ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w ORDER BY cnt DESC, w ASC LIMIT {k}
    )""",
        r"v0 AS MATERIALIZED (SELECT cnt,"
        r" regexp_replace(word, '(.)', '~\1~', 'g') AS s FROM w0)",
    ]
    for m in range(1, merges + 1):
        parts.append(f"""p{m} AS MATERIALIZED (
      SELECT '~' || a || '~~' || b || '~' AS pat, '~' || a || b || '~' AS rep
      FROM (
        SELECT p.a AS a, p.b AS b, sum(cnt) AS c
        FROM (
          SELECT cnt, unnest(list_transform(range(1, len(sym)),
                     i -> {{'a': sym[i], 'b': sym[i+1]}})) AS p
          FROM (SELECT cnt, string_split(trim(s, '~'), '~~') AS sym
                FROM v{m - 1})
        ) GROUP BY 1, 2
      ) ORDER BY c DESC, a ASC, b ASC LIMIT 1
    )""")
        parts.append(f"""v{m} AS MATERIALIZED (SELECT cnt, replace(s,
          coalesce((SELECT pat FROM p{m}), chr(1)),
          coalesce((SELECT rep FROM p{m}), chr(1))) AS s FROM v{m - 1})""")
    applied = r"regexp_replace(replace(text, '~', ''), '(.)', '~\1~', 'g')"
    for m in range(1, merges + 1):
        applied = (
            f"replace({applied}, coalesce((SELECT pat FROM p{m}), chr(1)), "
            f"coalesce((SELECT rep FROM p{m}), chr(1)))"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
    scored AS (
      SELECT doc_id,
             list_filter(string_split(trim({applied}, '~'), '~~'),
                         t -> t <> ' ') AS toks
      FROM documents
    )
    SELECT doc_id, len(toks) AS n_tokens,
           md5(array_to_string(toks, '|')) AS tok_md5
    FROM scored
    """
    )


@register("q_tokenize_bpe", oracle=_bpe_oracle())
def q_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q122: TRAINED byte-pair-encoding tokenization (VERDICT r6 item
    5) — Q57's regex lexer is a fixed rule set; LLM pipelines tokenize
    with a vocabulary FIT from the corpus. The merge table ({m} rules)
    is trained by real iterative BPE: top-{k} word frequencies cross
    the cluster boundary (distributed count + TakeOrdered — O(model),
    the Q106/SQ8 fit pattern), the merge loop runs on the driver over
    that K-row table with pinned determinism (count DESC, pair ASC
    tie-break; left-to-right non-overlapping replace — the semantics
    Python, Spark and DuckDB replace all share, see operators/bpe.py),
    and later rounds merge earlier rounds' products (the fitted table
    includes e.g. p+ar → par, proving the recount is genuinely
    iterative, not a one-shot pair ranking).

    Scoring plan: the trained model is a LITERAL chain of {m}
    ``replace`` calls — no keyed exchange, no join, no aggregate, no
    Python in the hot path (plan-audit-asserted; the one allowed
    Exchange is the round-robin cores-repartition before the CPU-bound
    chain, the Q120/Q103 ingest-parallelism lesson). Output is
    per-doc token count + an md5 over the joined token stream, so the
    hash check covers every token of every document.

    The oracle re-derives fit AND scoring in SQL ({m} unrolled CTE
    rounds), so training and inference are hash-checked together —
    Q106's contract extended to an iterative fit.
    """
    from project_map_reduce_spark.operators.bpe import bpe_fit, bpe_tokens_expr

    docs = load(spark, sf_dir, "documents")
    rules = bpe_fit(docs, vocab_words=_BPE_K, merges=_BPE_M)
    toks = bpe_tokens_expr(F.col("text"), rules)
    return (
        # cores-repartition before the CPU-bound replace chain (the
        # q_doc_chunks / q_embedding_quantize family lesson: the one-
        # or-two-file fixture otherwise pins per-char work to as many
        # cores as there are input files — measured 6.5 s → 1.5 s at
        # sf1). Round-robin, never keyed: no data co-location is
        # needed, only ingest parallelism.
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.md5(F.concat_ws("|", toks)).alias("tok_md5"),
        )
    )


fmt_doc(q_tokenize_bpe, m=_BPE_M, k=_BPE_K)


# ---------------------------------------------------------------------------
# Q191 — BM25 retrieval scoring (Robertson-Sparck Jones / Lucene form)

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("hash", "join", "scan")
_BM25_TOP = 10


def _bm25_oracle() -> str:
    tf_cols = ",\n               ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n               ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score = " + ".join(
        f"ln((s.n - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1)"
        f" * (t.tf{i} / (t.tf{i} + {_BM25_K1}"
        f" * (1 - {_BM25_B} + {_BM25_B} * t.dl / s.avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    t AS (
        SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
               {tf_cols}
        FROM base
    ),
    s AS (
        SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
               count(*) AS n,
               {df_cols}
        FROM t
    )
    SELECT t.doc_id, round({score}, 6) AS bm25
    FROM t, s
    ORDER BY bm25 DESC, t.doc_id
    LIMIT {_BM25_TOP}
    """


@register("q_bm25", oracle=_bm25_oracle())
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q191: BM25 ranked retrieval (Robertson & Sparck Jones
    probabilistic weighting in the Lucene/+1-idf form, k1={k1},
    b={b}) for the fixed query {q} — the scorer every retrieval
    stack (and every RAG pipeline selecting training/context
    documents) actually runs, completing the text-relevance ladder
    above Q47's raw TF-IDF: idf_t = ln((N-df+0.5)/(df+0.5)+1),
    score = Σ idf_t · tf/(tf + k1·(1-b+b·dl/avgdl)).

    Plan shape — the corpus is NEVER shuffled: per-term tf and doc
    length are narrow filter-size expressions riding the scan; the
    corpus statistics (N, avgdl, per-term df) are ONE tiny aggregate
    collected to the driver (O(|query|) values — the Q103
    aggregate-then-literal pattern, which also keeps the 1-row
    totals out of a BNLJ crossJoin, the q_text_tfidf adjudication
    this query deliberately avoids); idf folds into plan literals
    and scoring + top-{top} is a projection into
    TakeOrderedAndProject per-partition heaps. At 100 TB that is
    one pass, zero corpus shuffle, O(pages) driver merge.

    Determinism: tf/dl/df are integers; avgdl is an exact-integer
    sum divided once (order-independent); the only cross-engine
    drift surface is ln()'s last ulp (engine bakes python
    math.log literals, oracle runs DuckDB ln), absorbed by the
    6-dp score round with doc_id tiebreak — the r6d convention.

    Reference analog: none — SURVEY §2 B.10 extension row."""
    import math

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )

    def _tf(term: str):
        # closure, NOT a default arg: a two-parameter lambda would be
        # called as (element, index) by F.filter
        return F.size(F.filter("toks", lambda x: x == term))

    tfs = d.select(
        "doc_id",
        F.size("toks").cast("double").alias("dl"),
        *[
            _tf(t).cast("double").alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = tfs.agg(
        F.sum("dl").alias("tot"),
        F.count(F.lit(1)).alias("n"),
        *[
            F.count(F.when(F.col(f"tf{i}") > 0, 1)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    ).collect()[0]
    n, avgdl = int(stats["n"]), float(stats["tot"]) / int(stats["n"])
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = math.log((n - int(stats[f"df{i}"]) + 0.5)
                       / (int(stats[f"df{i}"]) + 0.5) + 1)
        tf = F.col(f"tf{i}")
        term = F.lit(idf) * (
            tf
            / (
                tf
                + F.lit(_BM25_K1)
                * (
                    F.lit(1)
                    - F.lit(_BM25_B)
                    + F.lit(_BM25_B) * F.col("dl") / F.lit(avgdl)
                )
            )
        )
        score = term if score is None else score + term
    return (
        tfs.select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_TOP)
    )


fmt_doc(
    q_bm25, k1=_BM25_K1, b=_BM25_B, q=list(_BM25_TERMS), top=_BM25_TOP
)


# ---------------------------------------------------------------------------
# Q192 — bigram PMI collocations

_PMI_MIN = 5  # minimum bigram count for a stable estimate
_PMI_TOP = 20


@register(
    "q_pmi_bigrams",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    uni AS (
        SELECT unnest(toks) AS tok FROM base
    ),
    cx AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    big AS (
        -- constant series bound (DuckDB rejects lateral column args
        -- in table functions); 512 >= any fixture doc's token count,
        -- asserted by the max-dl guard in the round-12 tests
        SELECT toks[g.i] AS x, toks[g.i + 1] AS y
        FROM base, generate_series(1, 512) AS g(i)
        WHERE g.i <= len(toks) - 1
    ),
    cxy AS (
        SELECT x, y, count(*) AS n_xy FROM big GROUP BY x, y
        HAVING count(*) >= {_PMI_MIN}
    ),
    tot AS (
        SELECT (SELECT count(*) FROM uni) AS n_tok,
               (SELECT count(*) FROM big) AS n_big
    )
    SELECT c.x, c.y, c.n_xy,
           round(ln((CAST(c.n_xy AS DOUBLE) * t.n_tok * t.n_tok)
                    / (CAST(t.n_big AS DOUBLE) * a.c * b.c)), 6) AS pmi
    FROM cxy c
    JOIN cx a ON a.tok = c.x
    JOIN cx b ON b.tok = c.y
    CROSS JOIN tot t
    ORDER BY pmi DESC, c.x, c.y
    LIMIT {_PMI_TOP}
    """,
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q192: pointwise-mutual-information collocation mining (Church
    & Hanks 1990) — the top-{top} token bigrams whose co-occurrence
    beats the independence prediction, PMI = ln(p(xy)/(p(x)p(y))) =
    ln(c_xy·N²/(M·c_x·c_y)), floored at {m} occurrences (the
    standard stability cut). The phrase detector every tokenizer/
    vocabulary pipeline runs before merging multiword units (and the
    statistic behind word2vec's phrase pass).

    Plan shape: ONE explode pass feeds both the bigram aggregate
    (shuffle O(distinct bigrams) — the HAVING floor prunes the long
    tail map-side partials first) and the unigram aggregate (shuffle
    O(vocab)); the two scalar totals collect via one tiny aggregate
    each (aggregate-then-literal, keeping the 1-row totals out of a
    BNLJ crossJoin — the Q191/Q103 discipline); unigram counts join
    back BROADCAST (a vocabulary fits any executor); final top-{top}
    is TakeOrderedAndProject. Determinism: every count is exact
    integer; the PMI argument is a fixed double expression over
    integers (same op order both engines — doubles FIRST so no
    bigint overflow at scale), ln's last ulp absorbed at 6 dp with
    the full (x, y) tiebreak.

    Reference analog: none — SURVEY §2 B.10 extension row."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    uni = d.select(F.explode("toks").alias("tok"))
    cx = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # size(toks) >= 2 guard (ADVICE r12): sequence(0, size-2) DESCENDS
    # for a single-token doc (start 0 > stop -1 yields [0, -1]) and
    # toks[i + 1] would then raise INVALID_ARRAY_INDEX under ANSI mode
    # while the DuckDB oracle's `i <= len - 1` bound returns normally.
    # Fixtures guarantee >=10 tokens, but the guard makes the engine
    # total (zero bigrams from short docs, same as the oracle).
    big = d.filter(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS x, toks[i + 1] AS y))"
            )
        ).alias("b")
    ).select("b.x", "b.y")
    cxy = (
        big.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= _PMI_MIN)
    )
    # Corpus totals WITHOUT exploding (round-13, guide §2.4 remove
    # passes): n_tok = rows of the exploded unigram relation = Σ
    # size(toks) (explode emits exactly size rows per doc; split never
    # yields an empty array), and n_big = rows of the exploded bigram
    # relation = Σ (size−1) over docs passing the size≥2 guard. One
    # narrow scan replaces the former TWO explode-then-count jobs.
    # ANSI keeps a NULL text consistent: size(NULL toks) is NULL and
    # sum skips it, exactly as explode(NULL) emits zero rows.
    tot = d.select(
        F.sum(F.size("toks")).alias("n_tok"),
        F.coalesce(
            F.sum(F.when(F.size("toks") >= 2, F.size("toks") - 1)),
            F.lit(0),
        ).alias("n_big"),
    ).first()
    n_tok, n_big = int(tot["n_tok"] or 0), int(tot["n_big"])
    ax = cx.select(F.col("tok").alias("x"), F.col("c").alias("c_x"))
    by = cx.select(F.col("tok").alias("y"), F.col("c").alias("c_y"))
    pmi = F.round(
        F.log(
            (F.col("n_xy").cast("double") * F.lit(n_tok) * F.lit(n_tok))
            / (F.lit(float(n_big)) * F.col("c_x") * F.col("c_y"))
        ),
        6,
    )
    return (
        cxy.join(F.broadcast(ax), "x")
        .join(F.broadcast(by), "y")
        .select("x", "y", "n_xy", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("x"), F.asc("y"))
        .limit(_PMI_TOP)
    )


fmt_doc(q_pmi_bigrams, top=_PMI_TOP, m=_PMI_MIN)


# ---------------------------------------------------------------------------
# Q198 — per-document Shannon entropy (token + character), integer micro-units


@register(
    "q_text_entropy",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS u FROM documents
    ),
    tc AS (SELECT doc_id, u, count(*) AS c FROM toks GROUP BY doc_id, u),
    tn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM tc GROUP BY doc_id),
    te AS (
        SELECT tc.doc_id,
               CAST(sum(CAST(round(
                   -(tc.c * 1.0 / tn.n) * ln(tc.c * 1.0 / tn.n) * 1000000
               ) AS BIGINT)) AS BIGINT) AS micro,
               CAST(count(*) AS BIGINT) AS n_types
        FROM tc JOIN tn USING (doc_id) GROUP BY tc.doc_id
    ),
    chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS u FROM documents
        WHERE text <> ''
    ),
    cc AS (
        SELECT doc_id, u, count(*) AS c FROM chars
        WHERE u <> '' GROUP BY doc_id, u
    ),
    cn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cc GROUP BY doc_id),
    ce AS (
        SELECT cc.doc_id,
               CAST(sum(CAST(round(
                   -(cc.c * 1.0 / cn.n) * ln(cc.c * 1.0 / cn.n) * 1000000
               ) AS BIGINT)) AS BIGINT) AS micro
        FROM cc JOIN cn USING (doc_id) GROUP BY cc.doc_id
    )
    SELECT d.doc_id, d.lang,
           tn.n AS n_tokens,
           te.n_types,
           round(te.micro / 1000000.0, 6) AS token_entropy,
           round(te.n_types * 1.0 / tn.n, 6) AS type_token_ratio,
           round(ce.micro / 1000000.0, 6) AS char_entropy
    FROM documents d
    JOIN tn USING (doc_id)
    JOIN te USING (doc_id)
    JOIN ce USING (doc_id)
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q198: per-document SHANNON ENTROPY over tokens and characters
    plus type-token ratio — the information-density quality screens a
    training-data pipeline runs next to Q56's ratio battery and Q70's
    repetition gate (Gopher/Rae et al. 2021 filter family: low char
    entropy ⇒ keyboard-mash or template boilerplate; low token
    entropy with high length ⇒ loops; low TTR ⇒ lexical poverty).

    Determinism is the r12 micro-unit doctrine: each entropy term
    −p·ln(p) is quantized to an integer micro-unit PER (doc, unit)
    row and the per-doc sum is then exact integer arithmetic — no
    float-sum-order drift between engines, unlike a naive
    round(sum(double), 6). p = c/n is a single IEEE divide of two
    exact integers on both engines; ln's last-ulp risk is absorbed by
    the term-level rounding (the q_pmi_bigrams precedent, tri-SF
    parity-pinned).

    Plan shape at 100 TB: two explode → partial-agg passes (token and
    char), both shuffling (doc_id, unit) keys with map-side combine —
    the identical exchange profile as the TF-IDF/BM25 family (volume
    O(corpus tokens), never more); per-doc totals ride the same
    doc_id key; the final assembly is a 4-way equi-join on doc_id, no
    broadcast needed since every relation is already co-partitioned.
    Spark's split('') yields a trailing '' element (Java split
    limit=-1) which is filtered symmetrically on both engines.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")

    from pyspark.sql import Window

    def entropy_per_doc(unit_col):
        cnt = unit_col.groupBy("doc_id", "u").agg(
            F.count(F.lit(1)).alias("c")
        )
        # Per-doc totals ride a WINDOW over the already-collapsed
        # (doc, unit, c) relation instead of a separate groupBy joined
        # back (round-13, guide §2.4): the join form re-executed the
        # whole explode + (doc, unit) aggregation once per side — two
        # corpus explode passes per entropy where one suffices. The
        # window's exchange moves only the O(types) collapsed rows.
        w = Window.partitionBy("doc_id")
        withn = cnt.withColumn("n", F.sum("c").over(w)).withColumn(
            "n_types", F.count(F.lit(1)).over(w)
        )
        p = F.col("c") * F.lit(1.0) / F.col("n")
        term = F.round(-p * F.log(p) * F.lit(1000000.0)).cast("bigint")
        return withn.groupBy("doc_id").agg(
            F.sum(term).alias("micro"),
            F.max("n").alias("n"),
            F.max("n_types").alias("n_types"),
        )

    te = entropy_per_doc(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("u"))
    )
    ce = entropy_per_doc(
        d.select("doc_id", F.explode(F.split("text", "")).alias("u")).filter(
            F.col("u") != ""
        )
    )
    return (
        d.select("doc_id", "lang")
        .join(te, "doc_id")
        .join(ce.select("doc_id", F.col("micro").alias("cmicro")), "doc_id")
        .select(
            "doc_id",
            "lang",
            F.col("n").alias("n_tokens"),
            "n_types",
            F.round(F.col("micro") / F.lit(1000000.0), 6).alias(
                "token_entropy"
            ),
            F.round(
                F.col("n_types") * F.lit(1.0) / F.col("n"), 6
            ).alias("type_token_ratio"),
            F.round(F.col("cmicro") / F.lit(1000000.0), 6).alias(
                "char_entropy"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Q205 — vocabulary coverage curve (top-k token mass)

_COVERAGE_KS = (100, 1000, 10000)


@register(
    "q_ngram_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    ranked AS (
        SELECT tok, c,
               row_number() OVER (ORDER BY c DESC, tok) AS r,
               sum(c) OVER (
                   ORDER BY c DESC, tok
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM counts
    ),
    tot AS (SELECT sum(c) AS n, count(*) AS vocab FROM counts)
    SELECT k,
           CAST(least(k, t.vocab) AS BIGINT) AS n_vocab_used,
           CAST(max(r2.cum) AS BIGINT) AS covered_tokens,
           round(CAST(max(r2.cum) AS DOUBLE) / t.n, 6) AS coverage
    FROM (VALUES {', '.join(f'({k})' for k in _COVERAGE_KS)}) ks(k)
    CROSS JOIN tot t
    JOIN ranked r2 ON r2.r <= ks.k
    GROUP BY k, t.n, t.vocab
    """,
)
def q_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q205: VOCABULARY COVERAGE CURVE — the fraction of all corpus
    tokens covered by the top-k most frequent types (k = 100 / 1000 /
    10000), the first statistic a tokenizer or vocabulary budget
    decision reads (BPE vocab sizing, OOV-rate planning, the
    Zipf-mass complement of Q122's trained merges).

    Determinism: integer token counts; the rank order is
    (count DESC, token) — fully tied-down; coverage is one exact
    integer divide rounded 6dp.

    Plan shape at 100 TB: the explode pass collapses map-side to
    O(vocab) counted types (the TF-IDF exchange profile); the rank +
    cumulative-mass window runs over the O(vocab) relation ONLY —
    vocab is millions at web scale (fine for one reducer); if it
    ever isn't, the Q201 chunked-prefix decomposition applies
    verbatim (count-descending range partition + broadcast chunk
    prefix). Totals are aggregate-then-literal; the k-probe relation
    is 3 literal rows joined broadcast.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    from pyspark.sql import Window

    toks = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = toks.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("vocab")
    ).collect()[0]
    n_tokens, vocab = int(tot["n"]), int(tot["vocab"])
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    ranked = toks.withColumn("r", F.row_number().over(w)).withColumn(
        "cum",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # One conditional aggregate (no join, no BNLJ): max(cum | r<=k)
    # per probe point, then stack the 3 scalars into rows.
    agg = ranked.agg(
        *[
            F.max(F.when(F.col("r") <= k, F.col("cum")))
            .cast("bigint")
            .alias(f"c{k}")
            for k in _COVERAGE_KS
        ]
    )
    stacked = agg.selectExpr(
        "stack({n}, {args}) as (k, covered_tokens)".format(
            n=len(_COVERAGE_KS),
            args=", ".join(f"{k}, c{k}" for k in _COVERAGE_KS),
        )
    )
    return stacked.select(
        "k",
        F.least(F.col("k"), F.lit(vocab)).cast("bigint").alias(
            "n_vocab_used"
        ),
        "covered_tokens",
        F.round(F.col("covered_tokens") / F.lit(n_tokens), 6).alias(
            "coverage"
        ),
    )


# ---------------------------------------------------------------------------
# Q206 — Zipf slope of the token frequency distribution


@register(
    "q_zipf_slope",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    ranked AS (
        SELECT CAST(round(ln(row_number() OVER (ORDER BY c DESC, tok))
                          * 1000000) AS BIGINT) AS lr,
               CAST(round(ln(c) * 1000000) AS BIGINT) AS lf
        FROM counts
    ),
    s AS (
        SELECT count(*) AS n,
               sum(CAST(lr AS HUGEINT)) AS sx,
               sum(CAST(lf AS HUGEINT)) AS sy,
               sum(CAST(lr AS HUGEINT) * lf) AS sxy,
               sum(CAST(lr AS HUGEINT) * lr) AS sxx
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_vocab,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
    FROM s
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q206: ZIPF SLOPE — the least-squares slope of ln(frequency) on
    ln(rank) over the full vocabulary, the corpus-health statistic
    behind "does this scrape look like natural language?" (natural
    text sits near −1; template spam and mode-collapsed synthetic
    data bend it; Zipf 1949, Piantadosi 2014 review). Complements
    Q205's coverage mass with the distribution's SHAPE.

    Determinism is the Q198 micro-unit doctrine end-to-end: ln(rank)
    and ln(count) are each quantized to integer micro-units PER VOCAB
    ROW (term-level rounding absorbs libm's last ulp — the
    q_pmi_bigrams precedent), the regression moments are exact
    DECIMAL(38,0)/HUGEINT integer sums, and the slope is ONE double
    division of exact integers rounded 6dp.

    Plan shape at 100 TB: explode collapses map-side to O(vocab);
    the rank window is the same O(vocab) single pass as Q205 (same
    documented chunked-prefix flip); moments are one 5-scalar
    aggregate. Nothing corpus-sized moves after the first collapse.

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    from pyspark.sql import Window

    counts = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    micro = F.lit(1_000_000.0)
    ranked = counts.select(
        F.round(F.log(F.row_number().over(w)) * micro)
        .cast("bigint")
        .alias("lr"),
        F.round(F.log("c") * micro).cast("bigint").alias("lf"),
    )
    d38 = "decimal(38,0)"
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("lr").cast(d38)).alias("sx"),
        F.sum(F.col("lf").cast(d38)).alias("sy"),
        F.sum((F.col("lr") * F.col("lf")).cast(d38)).alias("sxy"),
        F.sum((F.col("lr") * F.col("lr")).cast(d38)).alias("sxx"),
    )
    n = F.col("n").cast(d38)
    return s.select(
        F.col("n").cast("bigint").alias("n_vocab"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            ),
            6,
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Q207 — two-sample KS distance of doc-length distributions per source


@register(
    "q_ks_lengths",
    oracle="""
    WITH src AS (
        SELECT source, n_chars AS v, count(*) AS c
        FROM documents GROUP BY 1, 2
    ),
    lens AS (SELECT v, sum(c) AS g FROM src GROUP BY v),
    names AS (SELECT source, sum(c) AS ns FROM src GROUP BY source),
    tot AS (SELECT sum(c) AS n FROM src),
    grid AS (
        SELECT nm.source, nm.ns, gl.v, gl.g, COALESCE(s.c, 0) AS c
        FROM names nm
        CROSS JOIN lens gl
        LEFT JOIN src s ON s.source = nm.source AND s.v = gl.v
    ),
    ecdf AS (
        SELECT source, ns, v,
               sum(c) OVER (
                   PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cs,
               sum(g) OVER (
                   PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cg
        FROM grid
    )
    SELECT e.source,
           CAST(e.ns AS BIGINT) AS n_docs,
           round(CAST(max(abs(CAST(e.cs AS HUGEINT) * (t.n - e.ns)
                               - CAST(e.cg - e.cs AS HUGEINT) * e.ns))
                      AS DOUBLE)
                 / (CAST(e.ns AS DOUBLE) * (t.n - e.ns)), 6) AS ks_d
    FROM ecdf e CROSS JOIN tot t
    GROUP BY e.source, e.ns, t.n
    """,
)
def q_ks_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q207: per-source two-sample KOLMOGOROV-SMIRNOV distance between
    the source's doc-length distribution and the REST of the corpus —
    the drift/contamination screen a curation pipeline runs per feed
    (a source whose length ECDF diverges is truncating, padding, or
    duplicating; KS is the standard distribution-free test).

    Exactness: D = max over the pooled value grid of
    |cs/ns − cr/nr|, evaluated as the INTEGER cross-product form
    |cs·nr − cr·ns| (no per-point float ECDFs — one double divide at
    the very end, rounded 6dp). Cross products accumulate in
    DECIMAL(38,0)/HUGEINT (int64 dies past ~3e9 × 3e9 docs).

    Plan shape at 100 TB: documents collapse map-side to the
    O(sources × distinct-lengths) count grid FIRST — the only
    corpus-sized exchange; the evaluation grid is sources ×
    distinct-lengths (bounded: lengths are physically capped), built
    by broadcasting the O(distinct-lengths) global relation; ECDFs
    are per-source cumulative windows over that grid (well-spread —
    one partition per source, each O(distinct-lengths) rows); the
    final max collapses to O(sources). The all-pairs source-vs-source
    matrix is the documented extension (same grid, pair the cumsums).

    Reference analog: none — SURVEY §2 B.10 extension row.
    """
    from pyspark.sql import Window

    src = (
        load(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    glob = src.groupBy("v").agg(F.sum("c").alias("g"))
    names = src.groupBy("source").agg(F.sum("c").alias("ns"))
    n_total = int(glob.agg(F.sum("g")).collect()[0][0])
    grid = (
        names.crossJoin(F.broadcast(glob))
        .join(src, ["source", "v"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d38 = "decimal(38,0)"
    ecdf = grid.select(
        "source",
        "ns",
        F.sum("c").over(w).alias("cs"),
        F.sum("g").over(w).alias("cg"),
    )
    # |cs·nr − cr·ns| with nr = N − ns, cr = cg − cs — the exact
    # integer cross-product form of |ECDF_src − ECDF_rest|.
    num = F.abs(
        F.col("cs").cast(d38) * (F.lit(n_total) - F.col("ns"))
        - (F.col("cg") - F.col("cs")).cast(d38) * F.col("ns")
    )
    return ecdf.groupBy("source", "ns").agg(
        F.max(num).alias("mx")
    ).select(
        "source",
        F.col("ns").cast("bigint").alias("n_docs"),
        F.round(
            F.col("mx").cast("double")
            / (
                F.col("ns").cast("double")
                * (F.lit(n_total) - F.col("ns"))
            ),
            6,
        ).alias("ks_d"),
    )
