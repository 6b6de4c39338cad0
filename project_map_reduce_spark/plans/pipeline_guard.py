"""B.10 extension: training-data guardrail operators (Q68-Q70) —
benchmark decontamination, PII scrubbing, intra-document repetition.

The three gate stages every serious pre-training pipeline runs between
"crawled" and "trainable" that the core inventory lacked:

- **Decontamination** (Q68): drop/flag corpus documents that share
  n-grams with an evaluation benchmark, so the model is not graded on
  its own training set. The canonical shape (GPT-3 appendix C / C4):
  shingle the benchmark, shingle the corpus, intersect.
- **PII scrub** (Q69): pseudonymize identifiers and mask digits before
  the corpus leaves the ingest boundary (operators/pii.py holds the
  two expressions).
- **Repetition filter** (Q70): Gopher-style intra-document repetition
  metrics — duplicate-token fraction and top-bigram fraction — the
  cheap signal that a document is boilerplate/spam.

Scale notes are per-query; the common theme is that the corpus side is
always a narrow map + one bounded aggregation, and anything small
(benchmark shingle set) is broadcast.

Registered past the driver's 50-query window (like Q62-Q67's tail);
pytest parity hash-checks them at sf0.001, bench times them at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_map_reduce_spark.functions.det import r6d
from project_map_reduce_spark.operators.pii import mask_digits, pseudonymize
from project_map_reduce_spark.plans.dedup import _SHINGLE_K, shingle_expr, shingle_sets
from project_map_reduce_spark.registry import fmt_doc, register
from project_map_reduce_spark.tables import load

# Every doc_id ≡ 0 (mod 97) plays the role of a benchmark document —
# a deterministic stand-in for "the eval suites", ~1% of the corpus.
_PROBE_MOD = 97


@register(
    "q_decontaminate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(t) - {_SHINGLE_K - 1}),
                                     i -> array_to_string(t[i:i+{_SHINGLE_K - 1}], ' ')))
                   AS shingle
        FROM toks
    ),
    probe AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % {_PROBE_MOD} = 0
    ),
    sizes AS (
        SELECT doc_id, count(*) AS sz FROM sh
        WHERE doc_id % {_PROBE_MOD} != 0 GROUP BY doc_id
    ),
    hits AS (
        SELECT s.doc_id, count(*) AS n_hits
        FROM sh s JOIN probe USING (shingle)
        WHERE s.doc_id % {_PROBE_MOD} != 0
        GROUP BY s.doc_id
    )
    SELECT h.doc_id, n_hits,
           round(n_hits * 1.0 / sz, 6) AS hit_frac
    FROM hits h JOIN sizes USING (doc_id)
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q68: benchmark decontamination — flag corpus documents sharing
    {k}-token shingles with the probe ("benchmark") set, with the hit
    count and the fraction of the document's shingles that are
    contaminated.

    100 TB shape: benchmark suites are a few MB against a 100 TB
    corpus, so the probe shingle set broadcasts — the corpus side is
    scan → shingle (narrow map) → explode → broadcast-hash semi-ish
    join → partial+final count keyed on doc_id. ONE shuffle, O(hits)
    wide rows, no corpus-vs-corpus self-join anywhere. This is the
    same inverted-index doctrine as q_dedup_ngram_jaccard, degenerated
    to the easy case where one side fits in memory.
    """
    arr = shingle_sets(spark, sf_dir)
    probe = (
        arr.filter(F.col("doc_id") % _PROBE_MOD == 0)
        .select(F.explode("shs").alias("shingle"))
        .distinct()
    )
    corpus = arr.filter(F.col("doc_id") % _PROBE_MOD != 0).select(
        "doc_id", F.size("shs").alias("sz"), F.explode("shs").alias("shingle")
    )
    hits = (
        corpus.join(F.broadcast(probe), "shingle")
        .groupBy("doc_id", "sz")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return hits.select(
        "doc_id",
        "n_hits",
        F.round(F.col("n_hits") / F.col("sz"), 6).alias("hit_frac"),
    )


fmt_doc(q_decontaminate, k=_SHINGLE_K)


@register(
    "q_pii_mask",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS pseudonym,
           regexp_replace(c_name, '[0-9]', '*', 'g') AS masked_name,
           length(c_name)
             - length(regexp_replace(c_name, '[0-9]', '', 'g')) AS n_masked,
           c_mktsegment
    FROM customer
    """,
)
def q_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q69: PII scrub over the customer register — stable md5
    pseudonym for the identifier (joins downstream still work),
    digit-masked display name, and a masked-character count for the
    audit log. operators/pii.py supplies the expressions.

    100 TB shape: pure narrow map — regex + hash inside whole-stage
    codegen, ZERO exchanges in the plan (asserted by the plan audit).
    A scrub pass costs exactly one read of the data, which is the
    property that makes it deployable as a mandatory ingest gate.
    """
    c = load(spark, sf_dir, "customer")
    name = F.col("c_name")
    return c.select(
        "c_custkey",
        pseudonymize(name).alias("pseudonym"),
        mask_digits(name).alias("masked_name"),
        (
            F.length(name) - F.length(F.regexp_replace(name, "[0-9]", ""))
        ).alias("n_masked"),
        "c_mktsegment",
    )


# Flag thresholds (Gopher-style): computed over the ROUNDED metrics so
# the Spark and DuckDB sides agree bit-for-bit at the boundary.
_TOP_BIGRAM_MAX = 0.2
_DUP_TOKEN_MAX = 0.6


@register(
    "q_repetition",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    stats AS (
        SELECT doc_id, len(t) AS n_tokens,
               len(list_distinct(t)) AS n_distinct
        FROM toks
    ),
    bi AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> array_to_string(t[i:i+1], ' ')))
                   AS bigram
        FROM toks
    ),
    cnt AS (
        SELECT doc_id, bigram, count(*) AS n FROM bi GROUP BY 1, 2
    ),
    top AS (SELECT doc_id, max(n) AS top_n FROM cnt GROUP BY doc_id),
    m AS (
        SELECT s.doc_id, s.n_tokens,
               round(1 - s.n_distinct * 1.0 / s.n_tokens, 6) AS dup_token_frac,
               round(coalesce(top_n, 0) * 1.0
                     / greatest(s.n_tokens - 1, 1), 6) AS top_bigram_frac
        FROM stats s LEFT JOIN top USING (doc_id)
    )
    SELECT doc_id, n_tokens, dup_token_frac, top_bigram_frac,
           (dup_token_frac > {_DUP_TOKEN_MAX}
            OR top_bigram_frac > {_TOP_BIGRAM_MAX}) AS flag_repetitive
    FROM m
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q70: intra-document repetition metrics (Gopher §A1.1 family) —
    duplicate-token fraction (1 - distinct/total) and the fraction of
    bigram slots occupied by the single most frequent bigram; documents
    breaching either threshold are flagged as repetitive boilerplate.

    100 TB shape: the top-bigram mode is computed by explode →
    groupBy(doc_id, bigram) → groupBy(doc_id) max — shuffle O(tokens),
    partial-agg combined map-side, per-doc state bounded. The HOF
    alternative (aggregate over array_distinct per doc) would be
    shuffle-free but O(doc_len²) per document in interpreted
    expression-land — quadratic in the one dimension (document length)
    the pipeline doesn't control. The token stats branch is a pure
    narrow map joined back on doc_id.
    """
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    stats = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
    )
    bi = d.select(
        "doc_id", F.explode(F.expr(shingle_expr(2))).alias("bigram")
    )
    top = (
        bi.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_n"))
    )
    m = stats.join(top, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 6).alias(
            "dup_token_frac"
        ),
        F.round(
            F.coalesce(F.col("top_n"), F.lit(0))
            / F.greatest(F.col("n_tokens") - 1, F.lit(1)),
            6,
        ).alias("top_bigram_frac"),
    )
    return m.select(
        "*",
        (
            (F.col("dup_token_frac") > _DUP_TOKEN_MAX)
            | (F.col("top_bigram_frac") > _TOP_BIGRAM_MAX)
        ).alias("flag_repetitive"),
    )


# ---------------------------------------------------------------------------
# Q94 — the full cleaning pipeline, composed end-to-end

_MIN_TOKENS = 20  # quality gate: drop fragments shorter than this


@register(
    "q_pipeline_e2e",
    oracle=f"""
    WITH kept AS (
        SELECT doc_id, source, md5(text) AS fp,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
        WHERE lang = 'en'
          AND len(string_split(text, ' ')) >= {_MIN_TOKENS}
    ),
    dedup AS (
        SELECT fp, min(doc_id) AS doc_id, min(source) AS source,
               min(n_tok) AS n_tok
        FROM kept GROUP BY fp
    )
    SELECT CASE WHEN substr(fp, 1, 1) BETWEEN '0' AND 'b' THEN 'train'
                WHEN substr(fp, 1, 1) IN ('c', 'd') THEN 'val'
                ELSE 'test' END AS split,
           source,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(avg(n_tok), 6) AS avg_tokens
    FROM dedup
    GROUP BY 1, 2
    """,
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q94: the cleaning pipeline COMPOSED end-to-end — language gate →
    length/quality gate → exact dedup → deterministic split → per
    (split, source) token accounting. Each stage exists standalone
    (Q55 lang-id, Q56 quality, Q43 dedup, Q61 split, Q57 tokens); this
    query proves they compose into one Catalyst plan the way a real
    C4/FineWeb-style preprocessing job runs them, with no materialization
    between stages.

    Scale shape (the reason composition matters at 100 TB): the lang and
    length filters are narrow row-level predicates evaluated in the scan
    stage — rejected documents never reach a shuffle. The only wide
    stage shuffles (fp, n_tok, source, doc_id) — a ~40-byte record, NOT
    the document body, because the dedup key is the md5 fingerprint and
    every downstream stage (split assignment, accounting) needs only
    the fingerprint. One shuffle for dedup + one tiny final agg; the
    split label derives from the same fingerprint with zero extra
    hashing. Wrong composition (dedup-then-filter, or shuffling text)
    costs 25-50x the shuffle bytes.

    Plan note: min(source)'s string buffer drops both dedup agg phases
    to SortAggregate (Spark's hash agg needs fixed-width buffers). The
    all-hash alternative — group by (fp, source) first, then by fp —
    trades the sort for a SECOND full exchange of comparable volume;
    one shuffle + spillable sort is the better cluster economics, so
    the sort is deliberate (same trade as Q77's struct-max idiom).
    """
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    kept = d.filter(F.col("lang") == "en").filter(n_tok >= _MIN_TOKENS).select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        n_tok.alias("n_tok"),
    )
    dedup = kept.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("source").alias("source"),
        F.min("n_tok").alias("n_tok"),
    )
    first_hex = F.substring(F.col("fp"), 1, 1)
    split = (
        F.when(first_hex.between("0", "b"), "train")
        .when(first_hex.isin("c", "d"), "val")
        .otherwise("test")
    )
    return (
        dedup.select(split.alias("split"), "source", "n_tok")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            r6d(F.avg("n_tok"), "avg_tokens"),
        )
    )
