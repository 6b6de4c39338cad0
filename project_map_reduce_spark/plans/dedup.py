"""B.10 deduplication operators (Q43 exact, Q44 MinHash-LSH fuzzy +
SimHash, n-gram Jaccard, embedding-cosine near-dup).

Scale doctrine (the whole point of these shapes at 100 TB):

- **Never all-pairs.** Every near-dup operator goes through a blocking
  key — an inverted shingle index, LSH band buckets, or a coarse
  cluster id — so candidate generation is an equi-join Catalyst can
  hash-partition, not a crossJoin. The reference's at-least-once
  duplicate problem (SURVEY.md §1.4: duplicated gather lines are NOT
  removed) is the semantic ancestor of q_dedup_exact.
- **Hyper-frequent blocking keys are dropped** (stop-shingles): a
  shingle shared by >50 docs contributes O(50²) candidate pairs and
  near-zero signal. This caps the self-join fanout — the equivalent of
  AQE skew-split, applied semantically. The cap is part of the declared
  operator spec (both engines apply it identically).
- Exact dedup groups on the full text only at test scale; the
  fingerprint-first variant (group on md5 — q_doc_fingerprint) is the
  100 TB path: 32-byte shuffle keys instead of document bodies.

The embedding-cosine kernels are functions/det.py's, which carry the
argument for bit-identity with DuckDB's ``list_dot_product``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_map_reduce_spark.functions.det import (
    r6_np,
    r6d,
    seq_dot,
    seq_dots,
    seq_norm2,
)
from project_map_reduce_spark.registry import fmt_doc, register
from project_map_reduce_spark.tables import load, pin

# ---------------------------------------------------------------------------
# Q43 — exact dedup


@register(
    "q_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS survivor_doc_id,
           count(*) AS n_copies,
           CAST(min(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q43: exact-duplicate removal — survivor = min(doc_id) per distinct
    text. One hash-aggregate shuffle keyed on text (fingerprint at scale)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("survivor_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (inverted shingle index — the scale path)

# 5-token shingles: with the fixture's ~30-word vocabulary, 3-gram
# shingles collide by chance (~|vocab|³ space vs 260k instances at
# sf0.1 → 1.4M noise pairs); 5-grams (~|vocab|⁵) collide only on real
# shared runs, so candidate volume ≈ true near-dups. Same reasoning
# governs shingle width at 100 TB: size the shingle space ≫ corpus
# shingle count.
_SHINGLE_K = 5
_STOP_SHINGLE_DF = 50  # blocking keys in more docs than this are dropped
_TOP_PAIRS = 20


def shingle_expr(k: int) -> str:
    """Spark SQL expression: k-token shingles of ``text`` as an array.

    CASE-guarded for docs shorter than k tokens: Spark's
    ``sequence(1, n<=0)`` counts DOWNWARD (then ``slice(start<=0)``
    throws), while DuckDB's ``generate_series(1, n<=0)`` is empty — the
    guard makes both engines agree on "no shingles"."""
    return (
        f"CASE WHEN size(split(text, ' ')) >= {k} THEN "
        f"transform(sequence(1, size(split(text, ' ')) - {k - 1}), "
        f"i -> concat_ws(' ', slice(split(text, ' '), i, {k}))) "
        f"ELSE array() END"
    )


def shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shs): each document's distinct ``_SHINGLE_K``-token
    shingles (``array_distinct``: set semantics map-side, no distinct
    shuffle), pinned under one owner for every query that builds them —
    q_dedup_ngram_jaccard, its rebuild in q_dedup_clusters, and
    q_decontaminate — so the CPU-bound shingling runs once per corpus.
    One small parquet file scans as ONE partition, so the documents are
    spread over the cores first."""
    d = load(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    shs = F.array_distinct(F.expr(shingle_expr(_SHINGLE_K))).alias("shs")
    return pin("dedup.shingle_sets", d.select("doc_id", shs))


# Shared CTE chain for the shingle-index candidate pairs — used by the
# ngram-Jaccard oracle and by the connected-components cluster oracle.
_NGRAM_CTES = f"""
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(t) - {_SHINGLE_K - 1}),
                                     i -> array_to_string(t[i:i+{_SHINGLE_K - 1}], ' ')))
                   AS shingle
        FROM toks
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    keep AS (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= {_STOP_SHINGLE_DF}
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM (SELECT sh.* FROM sh JOIN keep USING (shingle)) a
        JOIN (SELECT sh.* FROM sh JOIN keep USING (shingle)) b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    j AS (
        SELECT doc_a, doc_b,
               round(n_shared * 1.0 / (sa.sz + sb.sz - n_shared), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
    )"""


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_NGRAM_CTES}
    SELECT doc_a, doc_b, jaccard FROM j
    ORDER BY jaccard DESC, doc_a, doc_b LIMIT {_TOP_PAIRS}
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: {k}-token shingles → posting-list buckets →
    exact Jaccard → top-{n} most-similar pairs (deterministic tiebreak).

    100 TB shape: explode to (shingle, doc_id), groupBy shingle into
    posting lists, drop stop-shingles (> {df} docs), generate candidate
    pairs map-side from each bounded list — shuffle volume is O(pairs),
    per-key fanout capped at {df}²/2, no self-join, no crossJoin.
    """
    # The shingle sets feed two branches (sizes, posting lists); doc set
    # sizes fall out of the array length map-side (no groupBy).
    arr = shingle_sets(spark, sf_dir)
    sizes = arr.select("doc_id", F.size("shs").alias("sz"))
    sh = arr.select("doc_id", F.explode("shs").alias("shingle"))
    # Posting-list formulation instead of an index self-join: one groupBy
    # per shingle, stop-shingles dropped by list size, candidate pairs
    # generated MAP-SIDE from each (short, ≤cap) posting list. The
    # expensive `sh` subplan is evaluated once per branch instead of
    # twice for a self-join, and per-key fanout is bounded by cap²/2.
    buckets = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    ).filter(F.size("docs") <= _STOP_SHINGLE_DF).filter(F.size("docs") >= 2)
    pair_expr = (
        "flatten(transform(sequence(0, size(docs) - 2), i -> "
        "transform(sequence(i + 1, size(docs) - 1), j -> "
        "struct(docs[i] AS doc_a, docs[j] AS doc_b))))"
    )
    pairs = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    j = (
        pairs.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_shared")
                * 1.0
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )
    return j.orderBy(F.desc("jaccard"), "doc_a", "doc_b").limit(_TOP_PAIRS)


fmt_doc(q_dedup_ngram_jaccard, k=_SHINGLE_K, n=_TOP_PAIRS, df=_STOP_SHINGLE_DF)


# ---------------------------------------------------------------------------
# SimHash fingerprints (32-bit, deterministic char-polynomial token hash)

# Token hash: fold chars with acc*131 + ascii(c) (mod 2^31-1) — verified
# bit-identical across engines. SimHash: per bit b, sign of Σ±1 over
# token hashes; fingerprint = Σ (sign_b>=0) << b.
_TOKHASH_SPARK = (
    "transform(split(text, ' '), t -> aggregate(split(t, ''), 7L, "
    "(a, c) -> (a*131 + ascii(c)) % 2147483647))"
)
_TOKHASH_DUCK = (
    "list_transform(string_split(text, ' '), t -> "
    "list_reduce(list_prepend(7::BIGINT, list_transform(string_split(t, ''), "
    "c -> ascii(c)::BIGINT)), (a, c) -> (a*131 + c) % 2147483647))"
)

_BITS = list(range(32))
_SIMHASH_DUCK = (
    "CAST(list_sum(list_transform(["
    + ", ".join(str(b) for b in _BITS)
    + "], b -> CASE WHEN list_sum(list_transform(hs, h -> "
    "CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) >= 0 "
    "THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT)"
)


@register(
    "q_dedup_simhash",
    oracle=f"""
    WITH h AS (SELECT doc_id, {_TOKHASH_DUCK} AS hs FROM documents)
    SELECT doc_id,
           {_SIMHASH_DUCK} AS simhash,
           CAST(({_SIMHASH_DUCK} >> 24) & 255 AS BIGINT) AS band3,
           CAST(({_SIMHASH_DUCK} >> 16) & 255 AS BIGINT) AS band2
    FROM h
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup fingerprint: 32-bit simhash per doc + two 8-bit
    LSH bands (near-dup candidates = docs sharing a band bucket —
    candidate generation is then a groupBy on band, never all-pairs).

    Implementation note: the bit-majority fold is an Arrow-batched
    pandas UDF, not a Catalyst higher-order function — nested HOF
    lambdas are evaluated *interpreted* and projection-collapse inlines
    the token-hash array into every per-bit pass (32× re-evaluation:
    measured minutes per 5k docs vs ~1s in numpy). Heavy custom
    per-record compute is exactly the designed pandas-UDF case. Pure
    integer arithmetic — engine-exact vs the DuckDB oracle.

    Shuffle-free map stage; the banding groupBy downstream shuffles
    8-bit keys. Input is repartitioned to the session default
    parallelism first: a single small parquet file otherwise scans as
    ONE partition, serializing the CPU-bound stage (at cluster scale
    many input files make this automatic, but CPU-heavy map stages
    should key partitioning to cores, not bytes).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def _simhash(texts: pd.Series) -> pd.Series:
        import numpy as np

        # Token→hash memo: the char-fold is the only per-item Python
        # loop left, and it runs once per DISTINCT token per batch.
        cache: dict[str, int] = {}

        def tok_hash(tok: str) -> int:
            h = cache.get(tok)
            if h is None:
                h = 7
                for c in tok:
                    h = (h * 131 + ord(c)) % 2147483647
                cache[tok] = h
            return h

        docs = [t.split(" ") for t in texts]
        n_toks = np.fromiter((len(d) for d in docs), dtype=np.int64, count=len(docs))
        flat = np.fromiter(
            (tok_hash(t) for d in docs for t in d),
            dtype=np.int64,
            count=int(n_toks.sum()),
        )
        if len(flat) == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        # (n_tokens, 32) ±1 bit matrix, summed per doc with reduceat
        # (split(" ") yields ≥1 token per doc, so no empty segments).
        signs = ((flat[:, None] >> np.arange(32)) & 1) * 2 - 1
        bounds = np.zeros(len(docs), dtype=np.int64)
        np.cumsum(n_toks[:-1], out=bounds[1:])
        majority = np.add.reduceat(signs, bounds, axis=0) >= 0
        fp = (majority.astype(np.int64) << np.arange(32)).sum(axis=1)
        return pd.Series(fp)

    d = load(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    sim = d.select("doc_id", _simhash("text").alias("simhash"))
    return sim.select(
        "doc_id",
        "simhash",
        F.expr("shiftright(simhash, 24) & 255").cast("bigint").alias("band3"),
        F.expr("shiftright(simhash, 16) & 255").cast("bigint").alias("band2"),
    )


# ---------------------------------------------------------------------------
# Q44 — MinHash-LSH fuzzy dedup (deterministic permutations, hash-checked)

# Universal-hash MinHash family h_i(x) = (a_i·x + b_i) mod p over the
# char-fold shingle hashes (same fold as SimHash — verified bit-identical
# across engines). Constants are fixed so BOTH engines evaluate the same
# permutations: determinism is what upgrades the driver check from
# rows-only to a full value-hash match.
_MINHASH_P = 2147483647  # 2^31 - 1, prime; products stay < 2^62 (no overflow)
_N_PERM = 32
_LSH_ROWS = 2  # rows per band
_LSH_BANDS = _N_PERM // _LSH_ROWS  # 16 bands: P(candidate|s=0.4) ≈ 0.94
_PERM_A = [((2 * i + 1) * 2654435761) % _MINHASH_P for i in range(_N_PERM)]
_PERM_B = [(i * 40503 + 12345) % _MINHASH_P for i in range(_N_PERM)]
_FUZZY_MAX_DIST = 0.6  # report pairs with Jaccard distance ≤ 0.6 (sim ≥ 0.4)
_LSH_BUCKET_CAP = 50  # stop-bucket: same skew cap as the shingle index

_SH3_DUCK = (
    "list_transform(generate_series(1, len(t) - 2), "
    "i -> array_to_string(t[i:i+2], ' '))"
)
_SHHASH_DUCK = (
    f"list_distinct(list_transform({_SH3_DUCK}, s -> "
    "list_reduce(list_prepend(7::BIGINT, list_transform(string_split(s, ''), "
    "c -> ascii(c)::BIGINT)), (a, c) -> (a*131 + c) % 2147483647)))"
)
_SIG_DUCK = ", ".join(
    f"list_min(list_transform(hs, h -> ({a}*h + {b}) % {_MINHASH_P}))"
    for a, b in zip(_PERM_A, _PERM_B)
)


# The full MinHash-LSH candidate+verify CTE chain, shared by the Q44
# pair report and the Q195 removal ledger (which resolves the SAME
# pairs into components — one replayed-permutation pipeline, two
# hash-checked artifacts).
_FUZZY_PAIR_CTES = f"""toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [-1::BIGINT] ELSE {_SHHASH_DUCK} END AS hs
        FROM toks
    ),
    sig AS (SELECT doc_id, hs, [{_SIG_DUCK}] AS sig FROM sh),
    bands AS (
        SELECT doc_id, j,
               sig[{_LSH_ROWS}*j + 1] AS k1,
               sig[{_LSH_ROWS}*j + 2] AS k2
        FROM sig, LATERAL (
            SELECT unnest(generate_series(0, {_LSH_BANDS - 1})) AS j
        ) u
    ),
    keep AS (
        SELECT j, k1, k2 FROM bands GROUP BY j, k1, k2
        HAVING count(*) BETWEEN 2 AND {_LSH_BUCKET_CAP}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN keep USING (j, k1, k2)
        JOIN bands b ON a.j = b.j AND a.k1 = b.k1 AND a.k2 = b.k2
                    AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT doc_a, doc_b,
               len(list_intersect(sa.hs, sb.hs)) * 1.0 /
               (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))
                   AS sim
        FROM pairs
        JOIN sh sa ON doc_a = sa.doc_id
        JOIN sh sb ON doc_b = sb.doc_id
    )"""


@register(
    "q_dedup_fuzzy",
    oracle=f"""
    WITH {_FUZZY_PAIR_CTES}
    SELECT doc_a, doc_b, round(1 - sim, 6) AS jaccard_dist
    FROM scored WHERE sim >= {1 - _FUZZY_MAX_DIST}
    """,
)
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q44: MinHash-LSH near-dup pairs (Jaccard distance ≤ {t}) with a
    DETERMINISTIC universal-hash permutation family — 3-token shingles →
    char-fold shingle hashes → 32 minhashes → {b} bands × {r} rows →
    bucket grouping → exact-Jaccard verify on candidates.

    Deterministic permutations (fixed a_i, b_i, mod 2^31−1) mean DuckDB
    reproduces the exact same signatures, so this is value-hash-checked
    end to end — unlike pyspark.ml's MinHashLSH, whose JVM-seeded hash
    family an external oracle cannot replay (that path is kept as a
    tested capability: ``minhash_lsh_ml_pairs``).

    100 TB shape, same doctrine as the shingle index: signature stage is
    a shuffle-free Arrow-batched map (numpy broadcast over the perm
    matrix — the nested-HOF form is interpreted and 100× slower);
    banding explodes each doc to {b} fixed-size keys and groupBy's them;
    hot buckets (> {cap} docs) are dropped (stop-bucket skew cap);
    candidate pairs are emitted map-side from each bounded bucket list;
    the exact-Jaccard verify joins the candidate pairs (small) back to
    the signature relation on doc_id — an equi-join, never all-pairs.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<hs: array<bigint>, sig: array<bigint>>")
    def _minhash(texts: pd.Series) -> pd.DataFrame:
        import numpy as np

        A = np.array(_PERM_A, dtype=np.int64)[:, None]
        B = np.array(_PERM_B, dtype=np.int64)[:, None]
        cache: dict[str, int] = {}

        def sh_hash(s: str) -> int:
            h = cache.get(s)
            if h is None:
                h = 7
                for c in s:
                    h = (h * 131 + ord(c)) % 2147483647
                cache[s] = h
            return h

        out_hs, out_sig = [], []
        for text in texts:
            toks = text.split(" ")
            shingles = {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }
            if not shingles:
                hs = np.array([-1], dtype=np.int64)
            else:
                hs = np.unique(
                    np.fromiter(
                        (sh_hash(s) for s in shingles),
                        dtype=np.int64,
                        count=len(shingles),
                    )
                )
            sig = ((A * hs[None, :] + B) % _MINHASH_P).min(axis=1)
            out_hs.append(hs.tolist())
            out_sig.append(sig.tolist())
        return pd.DataFrame({"hs": out_hs, "sig": out_sig})

    d = load(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    # feats feeds the banding explode AND both sides of the verify join —
    # pinned so the pandas-UDF stage runs once, and once for
    # q_dedup_fuzzy_ledger's rebuild of this query too (persist
    # MEMORY_AND_DISK on a cluster).
    feats = pin("q_dedup_fuzzy.feats", d.select("doc_id", _minhash("text").alias("m")).select(
        "doc_id", F.col("m.hs").alias("hs"), F.col("m.sig").alias("sig")
    ))

    band_expr = (
        f"transform(sequence(0, {_LSH_BANDS - 1}), j -> "
        f"struct(j AS band, sig[{_LSH_ROWS}*j] AS k1, sig[{_LSH_ROWS}*j + 1] AS k2))"
    )
    bands = feats.select(
        "doc_id", F.explode(F.expr(band_expr)).alias("bk")
    ).select("doc_id", "bk.band", "bk.k1", "bk.k2")
    buckets = (
        bands.groupBy("band", "k1", "k2")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= _LSH_BUCKET_CAP))
    )
    pair_expr = (
        "flatten(transform(sequence(0, size(docs) - 2), i -> "
        "transform(sequence(i + 1, size(docs) - 1), j -> "
        "struct(docs[i] AS doc_a, docs[j] AS doc_b))))"
    )
    pairs = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    sa = feats.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = feats.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    sim = inter * 1.0 / (F.size("hs_a") + F.size("hs_b") - inter)
    return (
        pairs.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= 1 - _FUZZY_MAX_DIST)
        .select(
            "doc_a", "doc_b", F.round(1 - F.col("sim"), 6).alias("jaccard_dist")
        )
    )


fmt_doc(q_dedup_fuzzy, t=_FUZZY_MAX_DIST, b=_LSH_BANDS, r=_LSH_ROWS, cap=_LSH_BUCKET_CAP)


def minhash_lsh_ml_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml MinHash-LSH capability path (not hash-checkable: the
    JVM-seeded hash family cannot be replayed by an external oracle, so
    Q44's registered query uses the deterministic family above instead).

    Shingle features → HashingTF → MinHashLSH(seed=42) →
    approxSimilarityJoin at Jaccard distance ≤ {t}. approxSimilarityJoin
    explodes each doc to its numHashTables band keys and equi-joins on
    (table, band hash) — the distributed LSH bucket join, with O(1)
    bands per doc regardless of doc length.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # Shingle (not unigram) sets: the fixture vocabulary is ~30 words, so
    # unigram sets of every doc pair overlap heavily and LSH degenerates
    # to all-pairs; 3-token shingles are distinctive (≈|vocab|³ space).
    shingles_expr = shingle_expr(3)
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(shingles_expr).alias("tokens")
    )
    tf = HashingTF(
        inputCol="tokens", outputCol="features", numFeatures=1 << 18, binary=True
    )
    # The feature DF is scanned three times (fit + both sides of the
    # self-join); without a cache each scan re-runs parquet read +
    # shingling + HashingTF. On a cluster this would be a persist at
    # MEMORY_AND_DISK before the LSH stage.
    feats = tf.transform(d).cache()
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=4, seed=42
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, threshold=_FUZZY_MAX_DIST, distCol="jaccard_dist"
    )
    return pairs.filter(
        F.col("datasetA.doc_id") < F.col("datasetB.doc_id")
    ).select(
        F.col("datasetA.doc_id").alias("doc_a"),
        F.col("datasetB.doc_id").alias("doc_b"),
        F.round("jaccard_dist", 6).alias("jaccard_dist"),
    )


fmt_doc(minhash_lsh_ml_pairs, t=_FUZZY_MAX_DIST)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (coarse-cluster blocking)

_COS_THRESHOLD = 0.3

# Row-block size for the within-block all-pairs cosine kernel: bounds
# kernel memory at block·n doubles per buffer while the n² pair work
# stays fully vectorized (guide §4.2 — hand whole batches to numpy).
_PAIR_ROW_BLOCK = 4096


def _block_cos6(A, nrm, lo, hi, c0=0):
    """6-dp-rounded cosine of rows ``[lo, hi)`` against rows ``[c0, n)``
    — bit-identical, cell for cell, to the oracle's
    ``round(list_dot_product(a, b) / (a.nrm * b.nrm), 6)``: the dot is
    ``seq_dots``, the norm product and the divide are the same two IEEE
    ops, and ``r6_np`` rounds as DuckDB does (functions/det.py).

    ``c0`` lets an a<b pair consumer skip the half-matrix it would
    discard: a block starting at ``lo`` can never keep a column ≤ lo,
    so passing ``c0 = lo + 1`` halves the kernel work with IDENTICAL
    values for every surviving cell — each pair's cosine is an
    element-wise computation, independent of which other columns are
    present (bit-equality pinned in tests/test_llm_ops.py).
    """
    cos = seq_dots(A[lo:hi], A[c0:]) / (nrm[lo:hi, None] * nrm[None, c0:])
    return r6_np(cos)


def _block_pairs(block: str):
    """The ``applyInPandas`` body for within-block near-dup pairs: every
    pair ``vec_a < vec_b`` of one ``block`` group whose 6-dp cosine is
    ≥ the threshold, as ``(vec_a, vec_b, <block>, cos_sim)``. Norms are
    ``sqrt(seq_norm2)`` of the block's rows — the oracle's
    ``sqrt(list_dot_product(v, v))``.

    One grouped numpy kernel per block (guide §4.2) in place of a pair
    self-join that evaluated the interpreted Catalyst fold once per
    candidate: the block key is still the only shuffle key, never a
    crossJoin."""

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        n_rows = len(ids)
        out: list = []
        if n_rows >= 2:
            A = np.vstack(pdf["v"].to_numpy())
            nrm = np.sqrt(seq_norm2(A))
            key = pdf[block].iloc[0]
            for lo in range(0, n_rows, _PAIR_ROW_BLOCK):
                hi = min(lo + _PAIR_ROW_BLOCK, n_rows)
                # Columns ≤ lo can never satisfy the a<b mask — skip
                # them in the kernel (c0 = lo+1): half the pair work,
                # identical values for every kept cell.
                cos6 = _block_cos6(A, nrm, lo, hi, c0=lo + 1)
                cols = np.arange(lo + 1, n_rows)
                mask = (cos6 >= _COS_THRESHOLD) & (
                    cols[None, :] > (lo + np.arange(hi - lo))[:, None]
                )
                r, c = np.nonzero(mask)
                out.append(
                    pd.DataFrame(
                        {
                            "vec_a": ids[r + lo],
                            "vec_b": ids[c + lo + 1],
                            block: key,
                            "cos_sim": cos6[r, c],
                        }
                    )
                )
        if not out:
            return pd.DataFrame(
                {
                    "vec_a": np.array([], dtype=np.int64),
                    "vec_b": np.array([], dtype=np.int64),
                    block: np.array([], dtype=np.int32),
                    "cos_sim": np.array([], dtype=np.float64),
                }
            )
        return pd.concat(out, ignore_index=True)

    return pairs


@register(
    "q_dedup_embedding",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= {_COS_THRESHOLD}
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs with cos ≥ {t} within the same
    coarse cluster (label = assigned-centroid stand-in, IVF-style
    blocking).

    100 TB shape: candidate pairs only within a cluster — ONE shuffle
    keyed on the cluster id brings each block to one task (grouped
    numpy kernel, ``_block_pairs``), never a global crossJoin.

    Cost model (the sf1 probe's 9.8× at 10× rows is this, not a plan
    defect): within-block pair count is O(n²/k) for k blocks, so with
    the fixture's FIXED label cardinality the work grows quadratically
    in n — as does the declared OUTPUT (all qualifying pairs). At scale
    k must grow with the corpus (that is what IVF/k-means assignment
    does — Q84 produces exactly such labels), keeping per-block size
    roughly constant; per-block work is then flat and total work
    linear. Q99 (q_dedup_embedding_ivf) composes exactly that: the
    same pair kernel blocked on COMPUTED k-means cells instead of the
    fixture label.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    return e.groupBy("label").applyInPandas(
        _block_pairs("label"),
        schema="vec_a bigint, vec_b bigint, label int, cos_sim double",
    )


fmt_doc(q_dedup_embedding, t=_COS_THRESHOLD)


# ---------------------------------------------------------------------------
# Embedding near-dup blocked on COMPUTED k-means cells (Q84 ∘ Q53)

_IVF_K = 8
_IVF_ITERS = 2


def _ivf_dedup_oracle() -> str:
    from project_map_reduce_spark.plans.similarity import kmeans_ctes

    return (
        kmeans_ctes(_IVF_K, _IVF_ITERS)
        + f""",
    nn AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, cell
        FROM a{_IVF_ITERS}
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(a.cell AS INT) AS cell_id,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
    FROM nn a JOIN nn b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
          >= {_COS_THRESHOLD}"""
    )


@register("q_dedup_embedding_ivf", oracle=_ivf_dedup_oracle())
def q_dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup blocked on COMPUTED k-means cell ids —
    the composition Q84∘Q53 that closes q_dedup_embedding's declared
    scale caveat: there the blocker is the fixture's FIXED-cardinality
    ``label`` column (within-block work grows quadratically in n); here
    the blocker is the trained IVF coarse quantizer itself
    (operators/kmeans.py::lloyd_assignments, k={k}, {i} Lloyd rounds),
    so at 100 TB k grows with the corpus, per-cell population stays
    roughly constant, and total candidate-pair work stays LINEAR.

    Plan shape: {i} broadcast-model assignment passes (no shuffle of
    vectors), then ONE shuffle keyed on the computed cell id feeding
    Q53's grouped all-pairs kernel (``_block_pairs``) — never a
    crossJoin. The oracle chains the shared k-means CTEs
    (plans/similarity.py::kmeans_ctes) into the pair join, so
    assignment AND pairing are hash-checked as one pipeline.
    """
    from project_map_reduce_spark.operators.kmeans import lloyd_assignments

    e = (
        load(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        )
    )
    # Single consumer (the grouped kernel below): the CPU-bound
    # pandas-UDF k-means scoring pass executes exactly once unpinned.
    n = lloyd_assignments(e, k=_IVF_K, iters=_IVF_ITERS)
    return (
        n.select("vec_id", "v", F.col("cell").alias("cell_id"))
        .groupBy("cell_id")
        .applyInPandas(
            _block_pairs("cell_id"),
            schema="vec_a bigint, vec_b bigint, cell_id int, cos_sim double",
        )
    )


fmt_doc(q_dedup_embedding_ivf, k=_IVF_K, i=_IVF_ITERS)


# ---------------------------------------------------------------------------
# SemDeDup-style removal accounting (Q84 ∘ Q99 made actionable)


def _semdedup_oracle() -> str:
    from project_map_reduce_spark.plans.similarity import kmeans_ctes

    i = _IVF_ITERS
    return (
        kmeans_ctes(_IVF_K, i)
        + f""",
    cen AS (
        SELECT cell, list(x ORDER BY dim) AS cv FROM m{i} GROUP BY cell
    ),
    nn AS (
        SELECT a.vec_id, a.v, a.cell,
               sqrt(list_dot_product(a.v, a.v)) AS nrm,
               round(list_dot_product(a.v, c.cv)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cen_cos
        FROM a{i} a JOIN cen c USING (cell)
    ),
    removed AS (
        SELECT DISTINCT a.vec_id
        FROM nn a JOIN nn b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
              >= {_COS_THRESHOLD}
          AND (b.cen_cos < a.cen_cos
               OR (b.cen_cos = a.cen_cos AND b.vec_id < a.vec_id))
    )
    SELECT e.label, n.vec_id, CAST(n.cell AS INT) AS cell_id, n.cen_cos,
           (r.vec_id IS NOT NULL) AS removed
    FROM nn n
    JOIN embeddings e USING (vec_id)
    LEFT JOIN removed r ON n.vec_id = r.vec_id"""
    )


@register("q_semdedup", oracle=_semdedup_oracle())
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q135: SemDeDup-style semantic-dedup REMOVAL LEDGER (VERDICT r8
    item 6) — completes the embedding ladder the way Q105 completed
    Q104: Q99 *finds* embedding-near pairs inside trained k-means
    cells; this query decides, per vector, KEEP or REMOVE, which is
    the artifact a training-data pipeline actually consumes. Rule
    (Abbas et al. 2023, SemDeDup): within each IVF cell, for every
    semantic-duplicate pair (cos ≥ {t}), keep the member with the
    LOWEST cosine to its cell centroid (ties to the smaller vec_id) —
    retaining the cluster's least-prototypical example preserves
    diversity. A vector is removed iff SOME better-ranked in-cell
    partner duplicates it (a pure EXISTS — no recursion, unlike Q67's
    connected components, and every dup pair loses at least one side).

    The centroid is the 6-dp-quantized mean of the FINAL assignment's
    members — exactly the oracle's m{i} CTE (shared kmeans_ctes chain,
    plans/similarity.py), so training, assignment, centroid-ranking
    and the removal decision are hash-checked as ONE pipeline; output
    is the per-vector ledger (label, vec_id, cell_id, cen_cos,
    removed) from which per-source survivor stats are one groupBy.

    Scale shape: {i} broadcast-model assignment passes (no vector
    shuffle), centroid derivation is the O(k·d·partitions) map-side-
    combined aggregate, ranking joins an 8-row broadcast, and the dup
    probe is ONE shuffle keyed on the computed cell id feeding a
    grouped all-pairs numpy kernel (Q99's blocked shape — never a
    crossJoin; k grows with the corpus so per-cell pair work stays
    flat). The assignment frame and the ledger base are pinned
    (tables.py::pin) across their consumers.
    """
    from project_map_reduce_spark.operators.kmeans import lloyd_assignments

    e = (
        load(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id",
            "label",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        )
    )
    # The final-round assignment has TWO consumers here — the centroid
    # aggregate (broadcast build) and the ledger base — and each would
    # re-execute the CPU-bound pandas-UDF scoring pass
    # (operators/kmeans.py::_assign) over every vector. Pin it once
    # (guide §5 caching: reused AND expensive to recompute).
    assigned = pin(
        "q_semdedup.assigned",
        lloyd_assignments(e.select("vec_id", "v"), k=_IVF_K, iters=_IVF_ITERS),
    )
    cen = (
        assigned.select("cell", F.posexplode("v").alias("dim", "x"))
        .groupBy("cell", "dim")
        .agg(F.round(F.avg("x"), 6).alias("x"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "x"))),
                lambda s: s.getField("x"),
            ).alias("cv")
        )
        .withColumn("cnrm", F.sqrt(seq_dot("cv", "cv")))
    )
    base = pin(
        "q_semdedup.base",
        assigned.withColumn("nrm", F.sqrt("nv"))
        .join(F.broadcast(cen), "cell")
        .withColumn(
            "cen_cos",
            F.round(seq_dot("v", "cv") / (F.col("nrm") * F.col("cnrm")), 6),
        )
        .select("vec_id", "v", "cell", "nrm", "cen_cos"),
    )

    # Removal probe as ONE grouped numpy kernel per cell (round-13,
    # guide §4.2; formerly a directed self-join evaluating the
    # interpreted pair-dot fold per candidate): a vector is removed iff
    # SOME better-ranked in-cell partner duplicates it — the kernel
    # evaluates the identical pair_cos (_block_cos6, bit-matching the
    # fold/round form) and better-rank predicate over the whole cell at
    # once and emits each removed vec_id exactly once (a vector lives
    # in exactly one cell, so no distinct step is needed).
    def _cell_removed(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        n_rows = len(ids)
        if n_rows < 2:
            return pd.DataFrame({"vec_id": np.array([], dtype=np.int64)})
        A = np.vstack(pdf["v"].to_numpy())
        nrm = pdf["nrm"].to_numpy()
        cc = pdf["cen_cos"].to_numpy()
        rem = np.zeros(n_rows, dtype=bool)
        for lo in range(0, n_rows, _PAIR_ROW_BLOCK):
            hi = min(lo + _PAIR_ROW_BLOCK, n_rows)
            cos6 = _block_cos6(A, nrm, lo, hi)
            # b better-ranked than a: lower cen_cos, ties to smaller id
            # (the id inequality also excludes the self pair).
            better = (cc[None, :] < cc[lo:hi, None]) | (
                (cc[None, :] == cc[lo:hi, None])
                & (ids[None, :] < ids[lo:hi, None])
            )
            rem[lo:hi] = ((cos6 >= _COS_THRESHOLD) & better).any(axis=1)
        return pd.DataFrame({"vec_id": ids[rem]})

    removed = (
        base.select("vec_id", "v", "cell", "nrm", "cen_cos")
        .groupBy("cell")
        .applyInPandas(_cell_removed, schema="vec_id bigint")
        .withColumn("__removed", F.lit(True))
    )
    return (
        base.join(e.select("vec_id", "label"), "vec_id")
        .join(removed, "vec_id", "left")
        .select(
            "label",
            "vec_id",
            F.col("cell").cast("int").alias("cell_id"),
            "cen_cos",
            F.coalesce("__removed", F.lit(False)).alias("removed"),
        )
    )


fmt_doc(q_semdedup, t=_COS_THRESHOLD, i=_IVF_ITERS)


# ---------------------------------------------------------------------------
# Q67 — near-dup clusters (pairs → connected components)


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_NGRAM_CTES},
    top AS (
        SELECT doc_a, doc_b FROM j
        ORDER BY jaccard DESC, doc_a, doc_b LIMIT {_TOP_PAIRS}
    ),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM top
        UNION
        SELECT doc_b, doc_a FROM top
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    walk(node, lab) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.d, w.lab FROM walk w JOIN edges e ON w.node = e.s
    )
    SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
    FROM walk GROUP BY node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q67: near-duplicate CLUSTERS — the top near-dup pairs (Q51's
    deterministic shingle-index output) resolved into connected
    components, each doc labeled with its component's min doc_id. This
    is the step that makes pair detection actionable: keep
    cluster_id == doc_id as the survivor, drop the rest.

    Engine side: iterative min-label propagation
    (operators/components.py — keyed join + groupBy per round, lineage
    cut per round, ≤ diameter rounds). Oracle side: DuckDB recursive CTE
    computing the same min-reachable-label. Deterministic on both.
    """
    from project_map_reduce_spark.operators.components import (
        connected_components,
    )

    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


@register(
    "q_dedup_lines",
    oracle="""
    WITH lines AS (
        SELECT doc_id, lang,
               trim(unnest(string_split(text, '.')), ' ') AS line
        FROM documents
    ),
    nonempty AS (SELECT * FROM lines WHERE line <> ''),
    freq AS (SELECT line, count(*) AS cnt FROM nonempty GROUP BY line),
    per_doc AS (
        SELECT n.doc_id, n.lang,
               count(*) AS n_lines,
               CAST(count(*) FILTER (WHERE f.cnt > 1) AS BIGINT)
                   AS n_dup_lines
        FROM nonempty n JOIN freq f ON n.line = f.line
        GROUP BY n.doc_id, n.lang
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_lines) AS BIGINT) AS total_lines,
           CAST(sum(n_dup_lines) AS BIGINT) AS total_dup_lines,
           round(avg(n_dup_lines * 1.0 / n_lines), 6) AS avg_dup_fraction
    FROM per_doc
    GROUP BY lang
    """,
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level dedup stats (the C4 preprocessing rule: drop lines
    duplicated anywhere in the corpus): per document, the fraction of
    its sentences that occur 2+ times corpus-wide, aggregated per
    language. Scale shape: explode → line-frequency aggregate (map-side
    combined, shuffle O(distinct lines)) → join lines back to their
    frequency (the zipfian hot head is the skew-operator use case, same
    as Q88's token join) → two cheap grouped aggs. The removal variant
    is the same plan with a filter instead of counters; stats form
    keeps the oracle deterministic. Line = '.'-split, space-trimmed,
    nonempty — matching Q87's segmentation exactly."""
    d = load(spark, sf_dir, "documents")
    lines = d.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", r"\.")).alias("raw"),
    ).select(
        "doc_id", "lang", F.trim(F.col("raw")).alias("line")
    ).filter(F.col("line") != "")
    freq = lines.groupBy("line").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        lines.join(freq, "line")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(F.when(F.col("cnt") > 1, 1)).alias("n_dup_lines"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_lines").alias("total_lines"),
        F.sum("n_dup_lines").alias("total_dup_lines"),
        r6d(F.avg(F.col("n_dup_lines") * 1.0 / F.col("n_lines")), "avg_dup_fraction"),
    )


# ---------------------------------------------------------------------------
# Q92 — incremental dedup: new batch vs existing corpus


@register(
    "q_dedup_incremental",
    oracle="""
    WITH corpus AS (
        SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0
    ),
    batch AS (
        SELECT doc_id, source, n_chars, md5(text) AS fp
        FROM documents WHERE doc_id % 5 = 0
    ),
    novel AS (
        SELECT * FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
    )
    SELECT min(doc_id) AS survivor_doc_id,
           count(*) AS n_batch_copies,
           min(source) AS source,
           CAST(min(n_chars) AS BIGINT) AS n_chars
    FROM novel
    GROUP BY fp
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q92: incremental dedup — admit only documents from an incoming
    batch whose content fingerprint is absent from the already-ingested
    corpus, then exact-dedup within the batch (survivor = min doc_id).
    This is how a growing training corpus is actually maintained: the
    corpus is never re-deduped; each ingest batch is anti-joined against
    the accumulated fingerprint set and only novel survivors append.
    (Batch = doc_id % 5 == 0 here — a deterministic stand-in for "the
    new crawl snapshot".)

    Scale shape: the corpus side is a compact fingerprint-only relation
    (16-byte md5 keys, no document bodies — at 100 TB that's a ~2% side
    table maintained incrementally by appending each admitted batch's
    fingerprints). The anti-join is a shuffle hash join on fp; keeping
    the fingerprint table bucketed on fp (``sources.sinks.write_bucketed``)
    makes every future ingest shuffle ONLY the new batch — the corpus
    side is already hash-partitioned on disk. Within-batch dedup is one
    further agg on the same key, which AQE plans shuffle-free when it
    lands on the anti-join's partitioning (min(source)'s string buffer
    makes it a SortAggregate — the single-shuffle-plus-sort trade
    documented at q_pipeline_e2e).
    """
    d = load(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    corpus = (
        d.filter(F.col("doc_id") % 5 != 0).select(fp.alias("fp")).distinct()
    )
    batch = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "source", "n_chars", fp.alias("fp")
    )
    novel = batch.join(corpus, "fp", "left_anti")
    return (
        novel.groupBy("fp")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("n_batch_copies"),
            F.min("source").alias("source"),
            F.min("n_chars").alias("n_chars"),
        )
        .drop("fp")
    )


# ---------------------------------------------------------------------------
# Substring-level (token-window) dedup — the ExactSubstr/C4 window rule

_SUB_W = 20  # window length (tokens)
_SUB_S = 10  # stride (tokens)


@register(
    "q_dedup_substring",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    w AS (
        SELECT doc_id, lang,
               md5(array_to_string(
                   t[(j*{_SUB_S}+1):(j*{_SUB_S}+{_SUB_W})], ' ')) AS fp
        FROM d, LATERAL (
            SELECT unnest(range(0,
                CAST(floor((len(t) - {_SUB_W}) / {_SUB_S}) AS BIGINT) + 1
            )) AS j
        ) s
        WHERE len(t) >= {_SUB_W}
    ),
    f AS (SELECT fp, count(*) AS cnt FROM w GROUP BY fp),
    p AS (
        SELECT w.doc_id, w.lang,
               count(*) AS n_windows,
               CAST(count(*) FILTER (WHERE f.cnt > 1) AS BIGINT)
                   AS n_dup_windows
        FROM w JOIN f USING (fp) GROUP BY w.doc_id, w.lang
    )
    SELECT doc_id, lang, CAST(n_windows AS BIGINT) AS n_windows,
           n_dup_windows,
           round(n_dup_windows * 1.0 / n_windows, 6) AS dup_fraction
    FROM p
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup accounting (the ExactSubstr rule of
    Lee et al. "Deduplicating Training Data Makes Language Models
    Better", in its Spark-scalable strided form): every {w}-token
    window at stride {s} is fingerprinted (md5 of the joined tokens),
    windows occurring 2+ times ANYWHERE in the corpus are flagged, and
    each document reports its duplicated-window fraction — the signal
    the removal variant cuts on. Completes the dedup ladder between
    Q43 (whole-document) and Q89 (line-level): copied PASSAGES inside
    otherwise-distinct documents, which neither catches.

    Scale shape: explode → window-fingerprint frequency (partial+final
    agg, shuffle O(distinct windows × 32-byte keys, ~corpus tokens/{s}
    — the stride keeps the index {s}× smaller than per-token suffix
    indexing)) → frequency joined back to windows (the Zipfian hot
    head is the declared skew-operator use case, same as Q89's line
    join) → one per-doc agg. The removal variant is the same plan with
    a span-merge instead of counters; counters keep the oracle exact
    (integer counts, one exact division rounded at 6 dp).
    """
    # Repartition to cores before the CPU-bound window/md5 explode —
    # a one-file ingest would otherwise serialize it (family convention)
    d = (
        load(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "lang", F.split("text", " ").alias("t"))
        .where(F.expr(f"size(t) >= {_SUB_W}"))
    )
    wins = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                f"""
                transform(
                    sequence(0, CAST(floor((size(t) - {_SUB_W}) / {_SUB_S})
                                     AS INT)),
                    j -> md5(cast(concat_ws(' ',
                             slice(t, j * {_SUB_S} + 1, {_SUB_W})) as binary))
                )"""
            )
        ).alias("fp"),
    )
    freq = wins.groupBy("fp").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        wins.join(freq, "fp")
        # lang rides the grouping key (functionally dependent on doc_id)
        # — a first(lang) aggregate would put a string buffer in the agg
        # and fall off the hash-agg fast path onto SortAggregate
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("cnt") > 1).cast("bigint")).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "lang",
            "n_windows",
            "n_dup_windows",
            r6d(
                F.col("n_dup_windows") * 1.0 / F.col("n_windows"),
                "dup_fraction",
            ),
        )
    )


fmt_doc(q_dedup_substring, w=_SUB_W, s=_SUB_S)


@register(
    "q_dedup_substring_removal",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    w AS (
        SELECT doc_id, lang, j,
               md5(array_to_string(
                   t[(j*{_SUB_S}+1):(j*{_SUB_S}+{_SUB_W})], ' ')) AS fp
        FROM d, LATERAL (
            SELECT unnest(range(0,
                CAST(floor((len(t) - {_SUB_W}) / {_SUB_S}) AS BIGINT) + 1
            )) AS j
        ) s
        WHERE len(t) >= {_SUB_W}
    ),
    f AS (SELECT fp FROM w GROUP BY fp HAVING count(*) > 1),
    dup AS (
        SELECT doc_id, lang, j*{_SUB_S} AS s, j*{_SUB_S} + {_SUB_W} AS e
        FROM w JOIN f USING (fp)
    ),
    isl AS (
        SELECT doc_id, lang, s, e,
               CASE WHEN s > lag(e) OVER (PARTITION BY doc_id ORDER BY s)
                    THEN 1 ELSE 0 END AS brk
        FROM dup
    ),
    g AS (
        SELECT doc_id, lang, s, e,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
    ),
    spans AS (
        SELECT doc_id, lang, island,
               min(s) AS tok_start, max(e) AS tok_end,
               count(*) AS n_windows
        FROM g GROUP BY doc_id, lang, island
    )
    SELECT sp.doc_id, sp.lang,
           CAST(row_number() OVER (PARTITION BY sp.doc_id
                                   ORDER BY sp.tok_start) AS BIGINT)
               AS span_id,
           CAST(sp.tok_start AS BIGINT) AS tok_start,
           CAST(sp.tok_end AS BIGINT) AS tok_end,
           -- coalesce: DuckDB's array_to_string([]) is NULL, not ''
           CAST(coalesce(len(array_to_string(
                    d.t[1:CAST(sp.tok_start AS BIGINT)], ' ')), 0)
                + CASE WHEN sp.tok_start > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS char_start,
           CAST(coalesce(len(array_to_string(
                    d.t[1:CAST(sp.tok_end AS BIGINT)], ' ')), 0)
                AS BIGINT) AS char_end,
           CAST(sp.n_windows AS BIGINT) AS n_windows
    FROM spans sp JOIN d USING (doc_id)
    """,
)
def q_dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q105: the ACTIONABLE form of Q104 — instead of counting
    duplicated windows, emit the character spans a pipeline would cut
    out of each document (ExactSubstr removal, Lee et al. §3.1). Same
    strided {w}-token/{s}-stride window fingerprints and corpus-wide
    frequency as Q104; windows seen 2+ times become per-doc token
    spans, overlapping/adjacent spans are MERGED (the span-merge the
    Q104 docstring promised), and each merged span is reported with
    both token and character offsets — ``substr(text, char_start+1,
    char_end-char_start)`` is exactly the text to delete.

    Plan shape: the span merge is a per-doc sorted fold — dup window
    starts collect_list'd per (doc_id, lang) (small: only DUPLICATED
    windows survive the frequency join) and merged in one higher-order
    ``aggregate`` lambda, so merging is a single hash-agg shuffle on
    the same key as Q104's report, with no window-function sort pass.
    Char offsets come from one join back to the pruned (doc_id,
    tokens) relation: prefix-join length, O(span · doc chars), the
    same order as reading the document once. The oracle expresses the
    identical merge as lateral-unnest + gaps-and-islands SQL, so both
    the dedup decision AND the merge arithmetic are hash-checked.

    Scale: everything Q104 says, plus — spans per doc are bounded by
    n_windows/2 and in practice tiny, so collect_list here is a
    per-document buffer, never a corpus-level gather; the final join
    is doc_id-partitioned against a column-pruned scan.
    """
    d = (
        load(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "lang", F.split("text", " ").alias("t"))
        .where(F.expr(f"size(t) >= {_SUB_W}"))
    )
    wins = d.select(
        "doc_id",
        "lang",
        F.posexplode(
            F.expr(
                f"""
                transform(
                    sequence(0, CAST(floor((size(t) - {_SUB_W}) / {_SUB_S})
                                     AS INT)),
                    j -> md5(cast(concat_ws(' ',
                             slice(t, j * {_SUB_S} + 1, {_SUB_W})) as binary))
                )"""
            )
        ).alias("j", "fp"),
    )
    dup_fps = (
        wins.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
        .select("fp")
    )
    # Merged spans: sorted dup-window starts folded left-to-right —
    # a window starting at or before the running span end extends it,
    # otherwise it opens a new span. greatest() keeps the fold correct
    # even for contained windows (uniform W makes ends monotone, so it
    # is belt-and-braces here, but the operator spec is general).
    merge = F.expr(
        f"""
        aggregate(
            array_sort(js),
            CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT, n: BIGINT>>),
            (acc, j) -> CASE
                WHEN size(acc) > 0
                     AND j * {_SUB_S} <= element_at(acc, -1).e THEN
                    concat(
                        slice(acc, 1, size(acc) - 1),
                        array(named_struct(
                            's', element_at(acc, -1).s,
                            'e', greatest(element_at(acc, -1).e,
                                          CAST(j * {_SUB_S} + {_SUB_W}
                                               AS BIGINT)),
                            'n', element_at(acc, -1).n + CAST(1 AS BIGINT)))
                    )
                ELSE concat(acc, array(named_struct(
                    's', CAST(j * {_SUB_S} AS BIGINT),
                    'e', CAST(j * {_SUB_S} + {_SUB_W} AS BIGINT),
                    'n', CAST(1 AS BIGINT))))
            END
        )"""
    )
    spans = (
        wins.join(dup_fps, "fp")
        .groupBy("doc_id", "lang")
        .agg(F.collect_list("j").alias("js"))
        .select(
            "doc_id",
            "lang",
            F.posexplode(merge).alias("pos", "sp"),
        )
    )
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    prefix_len = lambda bound: F.length(  # noqa: E731
        F.concat_ws(" ", F.expr(f"slice(t, 1, CAST({bound} AS INT))"))
    ).cast("bigint")
    return spans.join(toks, "doc_id").select(
        "doc_id",
        "lang",
        (F.col("pos") + 1).cast("bigint").alias("span_id"),
        F.col("sp.s").alias("tok_start"),
        F.col("sp.e").alias("tok_end"),
        (
            prefix_len("sp.s")
            + F.when(F.col("sp.s") > 0, 1).otherwise(0)
        ).cast("bigint").alias("char_start"),
        prefix_len("sp.e").alias("char_end"),
        F.col("sp.n").alias("n_windows"),
    )


fmt_doc(q_dedup_substring_removal, w=_SUB_W, s=_SUB_S)


# ---------------------------------------------------------------------------
# Q195 — MinHash fuzzy-dedup REMOVAL LEDGER (pairs → components → keep/remove)


@register(
    "q_dedup_fuzzy_ledger",
    oracle=f"""
    WITH RECURSIVE {_FUZZY_PAIR_CTES},
    fpairs AS (
        SELECT doc_a, doc_b FROM scored WHERE sim >= {1 - _FUZZY_MAX_DIST}
    ),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM fpairs
        UNION
        SELECT doc_b, doc_a FROM fpairs
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    walk(node, lab) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.d, w.lab FROM walk w JOIN edges e ON w.node = e.s
    ),
    comp AS (
        SELECT node, CAST(min(lab) AS BIGINT) AS cluster_id
        FROM walk GROUP BY node
    ),
    lab AS (
        SELECT d.doc_id, d.source, d.n_chars,
               coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    ranked AS (
        SELECT doc_id, source, cluster_id,
               row_number() OVER (
                   PARTITION BY cluster_id
                   ORDER BY n_chars DESC, doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM lab
    )
    SELECT source, doc_id, cluster_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           rn > 1 AS removed
    FROM ranked
    """,
)
def q_dedup_fuzzy_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q195: the MinHash near-dup ladder composed into the REMOVAL
    LEDGER a training pipeline actually consumes (VERDICT r12 item 4 —
    the text-side twin of Q135's SemDeDup ledger): Q44's deterministic
    MinHash-LSH pairs → connected components → one KEEP decision per
    cluster → a full per-document (source, doc_id, cluster_id,
    cluster_size, removed) ledger, hash-checked as ONE pipeline
    against the oracle's replayed-permutation recursive-CTE form.

    Keep rule: within each near-dup cluster the LONGEST document wins
    (n_chars DESC, ties to the smaller doc_id) — the standard "retain
    the most complete variant" policy (Lee et al. 2022, Deduplicating
    Training Data Makes Language Models Better, keep-one-per-cluster);
    singletons (docs in no surviving LSH pair) are their own clusters
    and trivially kept, so every removed doc has a kept same-cluster
    witness (property-tested).

    Plan shape at 100 TB: pair generation inherits Q44's banded LSH
    doctrine (no all-pairs anywhere); components run min-label
    propagation over the PAIR graph only (operators/components.py —
    near-dup components are overwhelmingly tiny, rounds ≤ diameter);
    the keeper decision is a groupBy over CLUSTERED docs only (min of
    a (−n_chars, doc_id) struct — no global window over the corpus,
    the Q119 collapse-first discipline); the corpus-wide ledger is
    then one LEFT equi-join of documents against the small
    cluster/keeper relations (broadcast at any realistic dup rate —
    near-dup clusters are a sliver of the corpus). The only full-width
    shuffle-free pass is the LSH signature map itself.

    Reference analog: none — SURVEY §2 B.4 extension row (the
    reference concatenates per-record outputs, Manager.java:287-312;
    cross-record resolution is engine-level capability it lacks).
    """
    from project_map_reduce_spark.operators.components import (
        connected_components,
    )

    pairs = q_dedup_fuzzy(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    # Keeper + size per cluster, computed over CLUSTERED docs only
    # (small relation) — never a corpus-wide window.
    cdocs = comp.join(d.select("doc_id", "n_chars"), "doc_id")
    clusters = cdocs.groupBy("cluster_id").agg(
        F.min(
            F.struct((-F.col("n_chars")).alias("neg_len"), F.col("doc_id"))
        ).getField("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    led = (
        d.join(comp, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
        .join(F.broadcast(clusters), "cluster_id", "left")
    )
    return led.select(
        "source",
        "doc_id",
        "cluster_id",
        F.coalesce("cluster_size", F.lit(1)).cast("bigint").alias("cluster_size"),
        F.coalesce(
            F.col("doc_id") != F.col("keeper_id"), F.lit(False)
        ).alias("removed"),
    )
