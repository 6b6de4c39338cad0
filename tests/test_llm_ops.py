"""Property/semantic tests for the LLM-pipeline operators (SURVEY.md
§5.2.4): dedup idempotence, similarity structure + ANN recall,
fingerprint stability."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_map_reduce_spark.plans.dedup import (
    _FUZZY_MAX_DIST,
    _TOKHASH_SPARK,
    minhash_lsh_ml_pairs,
    q_dedup_exact,
    q_dedup_fuzzy,
    q_dedup_ngram_jaccard,
)
from project_map_reduce_spark.plans.similarity import (
    _ANN_K,
    _TOP_K,
    q_similarity_ann,
    q_similarity_topk,
)


def test_dedup_exact_idempotent(spark, sf_dir):
    """dedup(dedup(x)) == dedup(x): survivors are already distinct."""
    once = q_dedup_exact(spark, sf_dir)
    n = once.count()
    assert once.select("survivor_doc_id").distinct().count() == n
    # every copy is accounted for (the A9 barrier property: counts add up)
    total = once.agg(F.sum("n_copies")).collect()[0][0]
    from project_map_reduce_spark.tables import load

    assert total == load(spark, sf_dir, "documents").count()


def test_ngram_jaccard_bounds(spark, sf_dir):
    rows = q_dedup_ngram_jaccard(spark, sf_dir).collect()
    assert rows, "expected at least one candidate pair"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0.0 < r.jaccard <= 1.0


def test_dedup_fuzzy_pairs_well_formed(spark, sf_dir):
    """Deterministic MinHash-LSH: pairs are ordered, within threshold,
    and repeat-run identical (fixed permutation constants)."""
    rows = q_dedup_fuzzy(spark, sf_dir).collect()
    assert rows, "expected at least one near-dup pair"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0.0 <= r.jaccard_dist <= _FUZZY_MAX_DIST
    again = q_dedup_fuzzy(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_minhash_lsh_ml_capability(spark, sf_dir):
    """The pyspark.ml MinHashLSH path still runs end to end (capability
    surface; not hash-checkable, so asserted structurally)."""
    rows = minhash_lsh_ml_pairs(spark, sf_dir).collect()
    assert rows, "ml LSH found no pairs"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0.0 <= r.jaccard_dist <= _FUZZY_MAX_DIST


def test_similarity_topk_structure(spark, sf_dir):
    rows = q_similarity_topk(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        assert r.neighbor_id != r.query_id  # no self-match
        assert -1.0 <= r.cos_sim <= 1.0
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, _TOP_K + 1))
        sims = [r.cos_sim for r in sorted(rs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)  # rank order = sim order


def test_ann_structure_and_recall(spark, sf_dir):
    """IVF ANN returns well-formed top-k; recall@1 vs brute force is
    reported (cells are coarse on random vectors, so only a floor is
    asserted — the structural guarantee is what the operator owns)."""
    ann = {(r.query_id, r.rank): r.neighbor_id
           for r in q_similarity_ann(spark, sf_dir).collect()}
    brute = {(r.query_id, r.rank): r.neighbor_id
             for r in q_similarity_topk(spark, sf_dir).collect()}
    ann_queries = {q for q, _ in ann}
    brute_queries = {q for q, _ in brute}
    assert ann_queries == brute_queries  # every query answered
    for (q, rank), n in ann.items():
        assert 1 <= rank <= _ANN_K
    hits = sum(
        1
        for q in ann_queries
        if ann.get((q, 1)) in {brute[(q, r)] for r in range(1, _TOP_K + 1)}
    )
    recall = hits / len(ann_queries)
    assert recall >= 0.0  # structural floor; value is data-dependent
    print(f"ANN recall@1-in-top{_TOP_K}: {recall:.2f}")


def test_ngram_shingles_guard_short_docs(spark):
    """Docs shorter than k tokens must yield an EMPTY shingle array
    (Spark's sequence(1, n<=0) counts downward and would make slice
    throw) — matching the oracle's empty generate_series."""
    from project_map_reduce_spark.plans.dedup import _SHINGLE_K, shingle_expr

    shingles_expr = shingle_expr(_SHINGLE_K)
    df = spark.createDataFrame(
        [(1, "a b"), (2, "one two three four"), (3, "a b c d e f")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.n for r in df.selectExpr(
        "doc_id", f"size({shingles_expr}) AS n"
    ).collect()}
    assert rows[1] == 0  # 2 tokens < k → empty, no crash
    assert rows[2] == 0  # 4 tokens < 5 → empty
    assert rows[3] == 2  # 6 tokens → 2 five-grams


def test_connected_components_known_graph(spark):
    """Min-label propagation on a known graph: two chains and an
    isolated edge must resolve to their component minima."""
    from project_map_reduce_spark.operators.components import (
        connected_components,
    )

    # components: {1,2,3,4} (chain), {10,11} (edge), {20,21,22} (triangle)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 20)],
        "src long, dst long",
    )
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_clusters_consistent_with_pairs(spark, sf_dir):
    """Every pair's endpoints must share a cluster, and each cluster's
    id must be its min member."""
    from project_map_reduce_spark.plans.dedup import q_dedup_clusters

    pairs = q_dedup_ngram_jaccard(spark, sf_dir).collect()
    clus = {r.doc_id: r.cluster_id for r in q_dedup_clusters(spark, sf_dir).collect()}
    for p in pairs:
        assert clus[p.doc_a] == clus[p.doc_b]
    by_cluster = {}
    for doc, c in clus.items():
        by_cluster.setdefault(c, []).append(doc)
    for c, members in by_cluster.items():
        assert c == min(members)


def test_simhash_identical_texts_collide(spark):
    """Same text ⇒ same simhash (fingerprint function is content-pure)."""
    df = spark.createDataFrame(
        [(1, "key agg row scan"), (2, "key agg row scan"), (3, "totally other words")],
        "doc_id long, text string",
    )
    h = df.select("doc_id", F.expr(_TOKHASH_SPARK).alias("hs")).collect()
    hs = {r.doc_id: r.hs for r in h}
    assert hs[1] == hs[2]
    assert hs[1] != hs[3]


def test_substring_removal_spans_merge_and_offsets(spark, tmp_path):
    """Q105 semantic check on a crafted corpus: a 30-token passage
    shared by two otherwise-distinct 40-token docs yields, per doc,
    ONE merged span (two overlapping dup windows folded together)
    whose token and char offsets slice out exactly the shared text.
    A unique doc and a <W-token doc contribute no spans."""
    from project_map_reduce_spark.registry import entries

    shared = [f"p{i:02d}" for i in range(30)]  # 3-char tokens
    ua = [f"a{i:02d}" for i in range(10)]
    ub = [f"b{i:02d}" for i in range(10)]
    texts = {
        1: " ".join(ua + shared),  # dup windows j=1,2 → toks [10,40)
        2: " ".join(shared + ub),  # dup windows j=0,1 → toks [0,30)
        3: " ".join(f"c{i:02d}" for i in range(25)),  # unique
        4: "too short",  # below the W=20 window size
    }
    sf = tmp_path / "sf_sub"
    sf.mkdir()
    spark.createDataFrame(
        [(i, "en", t) for i, t in texts.items()],
        "doc_id BIGINT, lang STRING, text STRING",
    ).write.parquet(str(sf / "documents.parquet"))

    rows = entries()["q_dedup_substring_removal"].fn(spark, str(sf)).collect()
    out = {r["doc_id"]: r for r in rows}
    assert set(out) == {1, 2} and all(r["span_id"] == 1 for r in rows)
    assert (out[1]["tok_start"], out[1]["tok_end"], out[1]["n_windows"]) == (10, 40, 2)
    assert (out[2]["tok_start"], out[2]["tok_end"], out[2]["n_windows"]) == (0, 30, 2)
    # char offsets are cut-ready: text[start:end] is the shared passage
    for doc_id in (1, 2):
        r = out[doc_id]
        assert texts[doc_id][r["char_start"] : r["char_end"]] == " ".join(shared)


def test_semdedup_removal_rule(spark, sf_dir):
    """Q135's SemDeDup contract, checked against Q99's own pair output:
    (a) for every semantic-duplicate pair at least one side is removed,
    (b) the kept side of every pair is the one with the lower
    (cen_cos, vec_id) rank — retaining the least-prototypical member,
    (c) a vector with no dup partner is never removed."""
    from project_map_reduce_spark.plans.dedup import (
        q_dedup_embedding_ivf,
        q_semdedup,
    )

    ledger = {
        r["vec_id"]: (r["cen_cos"], r["removed"])
        for r in q_semdedup(spark, sf_dir).collect()
    }
    pairs = [
        (r["vec_a"], r["vec_b"])
        for r in q_dedup_embedding_ivf(spark, sf_dir).collect()
    ]
    assert pairs, "fixture premise: at least one semantic-dup pair"
    paired = set()
    for va, vb in pairs:
        paired |= {va, vb}
        ca, ra = ledger[va]
        cb, rb = ledger[vb]
        assert ra or rb, f"pair ({va},{vb}): neither side removed"
        # the better-ranked (lower cen_cos, then lower id) side survives
        best = min((ca, va), (cb, vb))
        best_removed = ra if best[1] == va else rb
        assert not best_removed or (
            # ...unless an even better partner elsewhere removed it too
            any(
                min((ledger[x][0], x), (ledger[y][0], y))[1] != best[1]
                for x, y in pairs
                if best[1] in (x, y)
            )
        ), f"pair ({va},{vb}): best-ranked member removed with no cause"
    for vid, (_, removed) in ledger.items():
        if vid not in paired:
            assert not removed, f"unpaired vector {vid} was removed"


def test_block_cos6_bit_matches_sequential_fold():
    """The grouped pair kernel (_block_cos6) and the shared kernels it
    is built from (functions/det.py: seq_dots, seq_norm2, seq_dist2,
    r6_np) must be BIT-identical to a sequential dot-product fold
    (DuckDB's list_dot_product) with half-away-from-zero binary
    rounding (= DuckDB round, the oracle side). Reference:
    per-pair Python-float sequential fold + exact Decimal quantization
    of the double's binary expansion."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from project_map_reduce_spark.functions.det import (
        r6_np,
        seq_dist2,
        seq_dots,
        seq_norm2,
    )
    from project_map_reduce_spark.plans.dedup import (
        _PAIR_ROW_BLOCK,
        _block_cos6,
    )

    rng = random.Random(13)
    n, d = 97, 64
    A = np.array(
        [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(n)],
        dtype=np.float64,
    )
    # include an identical pair (cos = 1.0) and a negated pair (-1.0)
    A[1] = A[0]
    A[2] = -A[0]

    def seq_dot(x, y):
        s = 0.0
        for a, b in zip(x, y):
            s += a * b
        return s

    nrm = np.array([np.sqrt(seq_dot(r, r)) for r in A])

    got = np.vstack(
        [
            _block_cos6(A, nrm, lo, min(lo + 40, n))
            for lo in range(0, n, 40)  # force multi-block paths
        ]
    )
    assert got.shape == (n, n)
    for i in range(0, n, 7):
        for j in range(n):
            cos = seq_dot(A[i], A[j]) / (nrm[i] * nrm[j])
            want = float(
                Decimal(cos).quantize(Decimal("0.000001"), ROUND_HALF_UP)
            )
            assert got[i, j] == want, (i, j, got[i, j], want, cos)
    # block size itself exercised elsewhere; sanity: one call spanning
    # everything agrees with the stitched blocks
    assert np.array_equal(_block_cos6(A, nrm, 0, n), got)
    assert _PAIR_ROW_BLOCK >= 1024
    # round-14 half-matrix skip: restricting the column range (c0) must
    # return EXACTLY the corresponding slice of the full matrix — the
    # a<b consumers rely on bit-equality of every surviving cell.
    for lo in range(0, n, 40):
        hi = min(lo + 40, n)
        part = _block_cos6(A, nrm, lo, hi, c0=lo + 1)
        assert np.array_equal(part, got[lo:hi, lo + 1:])

    def r6_ref(x):
        return float(Decimal(x).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    # The dot/norm/distance kernels on non-square shapes, d not a
    # multiple of 4 (no lane-width accident can hide a reordered add).
    V = np.array([[rng.uniform(-3, 3) for _ in range(37)] for _ in range(13)])
    M = np.array([[rng.uniform(-3, 3) for _ in range(37)] for _ in range(5)])
    dots, nv, nm = seq_dots(V, M), seq_norm2(V), seq_norm2(M)
    d2 = seq_dist2(V, M)
    assert dots.shape == d2.shape == (13, 5)
    for i in range(13):
        assert nv[i] == seq_dot(V[i], V[i])
        for j in range(5):
            assert dots[i, j] == seq_dot(V[i], M[j])
            assert d2[i, j] == nv[i] - 2.0 * dots[i, j] + nm[j]
    # The rounding on exact binary halves (7812.5 micro-units) and 0.
    edges = np.array([0.0078125, -0.0078125, 0.0, 2.5e-7, -2.5e-7])
    assert [float(x) for x in r6_np(edges)] == [r6_ref(x) for x in edges]
    assert r6_np(np.array([0.0078125]))[0] == 0.007813
