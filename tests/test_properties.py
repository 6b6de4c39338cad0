"""Property-based spot checks (SURVEY.md §5.2.4).

Each property is an algebraic law the operator family must satisfy on
ANY input, checked over hypothesis-generated micro-DataFrames. These
catch the class of bug the DuckDB oracle can't: oracle and engine both
wrong in the same way on the one fixture distribution.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # CI determinism; hypothesis still varies inputs
)

_texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=8), min_size=1, max_size=24
)
_vals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # group key
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=1,
    max_size=30,
)


def _dedup_exact(df):
    return df.groupBy("text").agg(
        F.min("doc_id").alias("survivor_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@given(texts=_texts)
@settings(**_SETTINGS)
def test_dedup_exact_idempotent(spark, texts):
    """dedup(dedup(x)) == dedup(x): survivors are already distinct, so a
    second pass must be the identity on (text, survivor)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = _dedup_exact(df)
    survivors = once.count()
    again = _dedup_exact(
        once.select(F.col("survivor_doc_id").alias("doc_id"), F.lit("x").alias("dummy"))
        .join(df, "doc_id")
        .select("doc_id", "text")
    )
    assert again.count() == survivors
    assert again.filter(F.col("n_copies") != 1).count() == 0


@given(vals=_vals)
@settings(**_SETTINGS)
def test_union_all_count_additive(spark, vals):
    """|A ∪all B| == |A| + |B| for any disjoint-or-not A, B."""
    df = spark.createDataFrame(vals, "k int, v int")
    a = df.filter(F.col("v") >= 0)
    b = df.filter(F.col("v") < 10)
    assert a.unionByName(b).count() == a.count() + b.count()


@given(vals=_vals)
@settings(**_SETTINGS)
def test_unbounded_window_sum_equals_group_sum(spark, vals):
    """sum over an unbounded window frame must equal the groupBy sum for
    every row of the group — the frame/agg consistency law."""
    df = spark.createDataFrame(vals, "k int, v int")
    w = (
        Window.partitionBy("k")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    windowed = df.withColumn("wsum", F.sum("v").over(w))
    gsum = df.groupBy("k").agg(F.sum("v").alias("gsum"))
    bad = (
        windowed.join(gsum, "k")
        .filter(F.col("wsum") != F.col("gsum"))
        .count()
    )
    assert bad == 0


_pdf_parts = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=1,
        max_size=20,
    ),
    min_size=1,
    max_size=8,
)


@given(parts=_pdf_parts, compress=st.booleans())
@settings(max_examples=60, deadline=None, derandomize=True)
def test_pdf_text_roundtrip(parts, compress):
    """Any printable strings written as PDF literal Tj operators (with
    proper escaping, optionally Flate-compressed) must extract back
    verbatim — the write→extract round-trip law for the ToText path."""
    import zlib

    from project_map_reduce_spark.operators.pdftext import extract_pdf_text

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    content = " ".join(f"({esc(p)}) Tj" for p in parts).encode("latin-1")
    if compress:
        content = zlib.compress(content)
    pdf = (
        b"%PDF-1.4\n1 0 obj << /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == " ".join(parts)


_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ),
    min_size=1,
    max_size=20,
)


@given(edges=_edges)
@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, edges):
    """The distributed min-label propagation must agree with a plain
    union-find on any random graph (self-loops and duplicates included)."""
    from project_map_reduce_spark.operators.components import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == expected


@given(vals=_vals)
@settings(**_SETTINGS)
def test_exact_dedup_partition_invariant(spark, vals):
    """groupBy-dedup must give identical survivors regardless of input
    partitioning (the at-least-once/duplicate-delivery ancestor,
    SURVEY.md §1.4)."""
    rows = [(i, f"t{k}") for i, (k, _) in enumerate(vals)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").repartition(1)
    df8 = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    r1 = sorted(map(tuple, _dedup_exact(df1).collect()))
    r8 = sorted(map(tuple, _dedup_exact(df8).collect()))
    assert r1 == r8


_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=200),  # left ts (sec)
    ),
    min_size=0,
    max_size=15,
)


@given(lefts=_events, rights=_events)
@settings(**_SETTINGS)
def test_interval_join_matches_brute_force(spark, lefts, rights):
    """Bucketed interval join ≡ the all-pairs definition on any input:
    pairs with equal key and r_ts ∈ (l_ts, l_ts + 45]. Exercises pairs
    inside one bucket, straddling buckets, and window edges."""
    import datetime as dt

    from project_map_reduce_spark.operators.rangejoin import interval_join

    t0 = dt.datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(k, i, t0 + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(lefts)],
        "key int, l_id int, l_ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, i, t0 + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(rights)],
        "key int, r_id int, r_ts timestamp",
    )
    got = sorted(
        (r.l_id, r.r_id)
        for r in interval_join(
            ldf, rdf, "key", "l_ts", "r_ts", lower_sec=0.0, upper_sec=45.0
        ).collect()
    )
    want = sorted(
        (li, ri)
        for li, (lk, ls) in enumerate(lefts)
        for ri, (rk, rs) in enumerate(rights)
        if lk == rk and ls < rs <= ls + 45
    )
    assert got == want


def test_components_raise_on_long_chain(spark):
    """A 64-node path graph has diameter 63, so min-label propagation
    needs ~63 rounds: under max_iter=16 it must raise, not hand back a
    chain split into wrong clusters."""
    import pytest as _pytest

    from project_map_reduce_spark.operators.components import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(chain, "src long, dst long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=16)


def test_components_accept_empty_edge_sets(spark):
    """Zero near-dup pairs must yield zero components — not a
    non-convergence crash (sum over an empty frame is NULL, which the
    convergence check must treat as 0)."""
    from project_map_reduce_spark.operators.components import (
        connected_components,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0


_bpe_texts = st.lists(
    st.text(alphabet="abc~ ", min_size=0, max_size=12), min_size=1, max_size=12
)


@given(texts=_bpe_texts)
@settings(**_SETTINGS)
def test_bpe_fit_apply_laws(spark, texts):
    """Three laws of the trained tokenizer on ANY corpus (incl. the
    '~' metacharacter and empty/whitespace degenerate words):
    1. determinism — two fits of the same corpus give the same rules;
    2. engine agreement — Spark's replace-chain apply equals the
       driver-side Python mirror (same left-to-right non-overlapping
       replace semantics the oracle relies on);
    3. losslessness — concatenating a doc's tokens reproduces its
       sanitized non-space characters (merging never drops or invents
       a character)."""
    from project_map_reduce_spark.operators.bpe import (
        bpe_fit,
        bpe_tokens_expr,
    )

    docs = spark.createDataFrame([(t,) for t in texts], ["text"])
    rules = bpe_fit(docs, vocab_words=8, merges=3)
    assert rules == bpe_fit(docs, vocab_words=8, merges=3)

    got = (
        docs.select("text", bpe_tokens_expr(F.col("text"), rules).alias("t"))
        .collect()
    )

    def py_apply(text):
        clean = text.replace("~", "")
        s = "".join(f"~{c}~" for c in clean)
        for pat, rep in rules:
            s = s.replace(pat, rep)
        t = s.strip("~")
        toks = t.split("~~") if t else [""]
        return [x for x in toks if x != " "]

    for r in got:
        assert r["t"] == py_apply(r["text"]), (r["text"], rules)
        assert "".join(r["t"]) == r["text"].replace("~", "").replace(" ", "")


_mv_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=0, max_value=2),  # day bucket
        st.integers(min_value=-50, max_value=50),
    ),
    min_size=1,
    max_size=20,
)
_mv_cuts = st.lists(st.integers(min_value=0, max_value=20), max_size=3)


@given(rows=_mv_rows, cuts=_mv_cuts)
@settings(**_SETTINGS)
def test_mv_refresh_is_associative_over_any_split(spark, rows, cuts, tmp_path_factory):
    """The MV law the whole design rests on: splitting a corpus into
    ANY ordered sequence of deltas (including empty ones) and folding
    them through init+refresh equals one full partials pass. Holds
    because the stored partials are counts + exact decimal sums —
    order- and grouping-independent."""
    import datetime

    from project_map_reduce_spark.operators.mv import (
        mv_finalize,
        mv_init,
        mv_partials,
        mv_read,
        mv_refresh,
    )

    base_day = datetime.datetime(2024, 1, 1)
    data = [
        (t, base_day + datetime.timedelta(days=d), float(v))
        for t, d, v in rows
    ]
    schema = "event_type string, day timestamp, value double"
    keys, sums = ["event_type", "day"], {"sum_value": "value"}

    bounds = sorted({min(c, len(data)) for c in cuts} | {0, len(data)})
    chunks = [data[lo:hi] for lo, hi in zip(bounds, bounds[1:])] or [data]

    path = str(tmp_path_factory.mktemp("mvprop") / "mv")
    mv_init(spark.createDataFrame(chunks[0], schema), keys, sums, path)
    for chunk in chunks[1:]:
        mv_refresh(spark, path, spark.createDataFrame(chunk, schema), keys, sums)

    def canon(df):
        return sorted(
            (r["event_type"], r["day"], r["n_events"], round(r["sum_value"], 6))
            for r in mv_finalize(df, sums).collect()
        )

    got = canon(mv_read(spark, path))
    want = canon(mv_partials(spark.createDataFrame(data, schema), keys, sums))
    assert got == want


# --------------------------------------------------------- Q147 quarantine

_quarantine_rows = st.lists(
    st.tuples(
        st.booleans(),  # corrupt this row?
        st.integers(min_value=-10**6, max_value=10**6),  # payload int
    ),
    min_size=1,
    max_size=25,
)


@given(rows=_quarantine_rows)
@settings(**_SETTINGS)
def test_quarantine_partition_is_exact(spark, rows, tmp_path_factory):
    """PERMISSIVE quarantine is an exact partition for ANY corruption
    pattern: ok-side parses precisely the clean rows, the quarantine
    column preserves each corrupt raw line byte-intact, and
    DROPMALFORMED == ok-side. (Q147's law, freed from the fixture's
    mod-7 pattern.)"""
    import uuid

    p = str(tmp_path_factory.mktemp("q") / f"csv_{uuid.uuid4().hex}")
    lines = []
    clean_sum = 0
    for i, (corrupt, v) in enumerate(rows):
        if corrupt:
            lines.append((f"{i},!bad!{v}",))
        else:
            lines.append((f"{i},{v}",))
            clean_sum += v
    spark.createDataFrame(lines, "value string").coalesce(1).write.text(p)
    schema = "rid long, v long, _q string"
    perm = (spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_q").csv(p)).cache()
    try:
        ok = perm.where(F.col("_q").isNull())
        quar = perm.where(F.col("_q").isNotNull())
        n_corrupt = sum(1 for c, _ in rows if c)
        assert ok.count() == len(rows) - n_corrupt
        assert quar.count() == n_corrupt
        got_sum = ok.agg(F.sum("v")).first()[0]
        assert (got_sum or 0) == clean_sum
        # byte-intact raw lines: re-parse rid out of the quarantine col
        quar_rids = {r[0] for r in quar.select(
            F.split("_q", ",").getItem(0).cast("long")).collect()}
        assert quar_rids == {i for i, (c, _) in enumerate(rows) if c}
        drop = (spark.read.schema("rid long, v long")
                .option("mode", "DROPMALFORMED").csv(p))
        # Pinned caveat: a column-pruned count() skips parsing, so
        # DROPMALFORMED can't detect malformed rows there — the bare
        # count sees EVERY line. Materializing rows applies the mode.
        assert drop.count() == len(rows)
        assert len(drop.collect()) == ok.count()
    finally:
        perm.unpersist()


# --------------------------------------------------- Q155 unionByName law

_drift_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=99),
              st.integers(min_value=-50, max_value=50)),
    min_size=1,
    max_size=20,
)


@given(a=_drift_rows, b=_drift_rows)
@settings(**_SETTINGS)
def test_union_by_name_is_order_insensitive(spark, a, b):
    """unionByName(allowMissingColumns) is invariant to column order
    and equals the manual align-then-union for ANY pair of drifted
    schemas: missing columns null-fill, nothing mixes."""
    da = spark.createDataFrame(a, "k bigint, x bigint")
    db = spark.createDataFrame([(y, k) for k, y in b], "y bigint, k bigint")
    u = da.unionByName(db, allowMissingColumns=True)
    manual = da.select("k", "x", F.lit(None).cast("bigint").alias("y")).union(
        db.select("k", F.lit(None).cast("bigint").alias("x"), "y")
    )
    none_low = lambda t: tuple((v is not None, v) for v in t)  # noqa: E731
    got = sorted(map(tuple, u.select("k", "x", "y").collect()), key=none_low)
    want = sorted(map(tuple, manual.collect()), key=none_low)
    assert got == want


# ------------------------------------------------ Q148 chained-agg law

_chain_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=96 * 3600 - 1),  # sec offset, 4 days
        st.integers(min_value=0, max_value=2),               # event_type id
        st.integers(min_value=-1000, max_value=1000),        # value milli-units
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_chain_rows, cut=st.integers(min_value=1, max_value=95))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture],
          derandomize=True)
def test_chained_agg_batch_law(spark, rows, cut):
    """The algebra under Q148 (engine-side, no streaming run per
    example — the streaming equality is pinned by its own test): the
    two-level window rollup equals recomputing from raw for ANY input,
    and splitting the input at ANY event-time cut and merging the two
    halves' slot aggregates reproduces it — the invariant that makes
    the slot layer a mergeable partial state."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    data = [(base + dt.timedelta(seconds=s), f"t{e}", v / 1000.0)
            for s, e, v in rows]
    df = spark.createDataFrame(data, "ts timestamp, event_type string, value double")

    def slots(d):
        return d.groupBy(F.window("ts", "6 hours").alias("w"), "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("s"),
        )

    def days(sl):
        return (sl.groupBy(F.window(F.window_time("w"), "1 day").alias("d"))
                .agg(F.count(F.lit(1)).alias("n_slots"),
                     F.sum("n").alias("n"),
                     F.sum("s").alias("s"))
                .select(F.col("d.start").alias("day"), "n_slots", "n", "s"))

    whole = {tuple(r) for r in days(slots(df)).collect()}
    cut_ts = base + dt.timedelta(hours=cut)
    lo, hi = df.where(F.col("ts") < cut_ts), df.where(F.col("ts") >= cut_ts)
    # merge the two halves' slot aggregates (mergeable-partial law),
    # then roll up to days
    merged_slots = (slots(lo).unionByName(slots(hi))
                    .groupBy("w", "event_type")
                    .agg(F.sum("n").alias("n"), F.sum("s").alias("s")))
    split = {tuple(r) for r in days(merged_slots).collect()}
    assert split == whole


_lines = st.lists(
    st.text(
        alphabet=st.characters(blacklist_characters="\n\r", max_codepoint=0x2FFF),
        min_size=0,
        max_size=24,
    ),
    min_size=1,
    max_size=16,
)


@given(lines=_lines)
@settings(**_SETTINGS)
def test_line_hash_sql_equals_python_on_any_line(spark, lines):
    """The stream-sink ledger holds only if LINE_HASH_SQL (the Spark
    readback twin) is bit-identical to the writer's Python _line_hash
    on ANY line content, and the bit_xor aggregate equals Python's
    running xor — both sign branches, unicode, empty lines."""
    from project_map_reduce_spark.sources.pyds_sink import (
        LINE_HASH_SQL,
        _line_hash,
    )

    df = spark.createDataFrame([(s,) for s in lines], "value string")
    got = [
        r["h"] for r in df.select(F.expr(LINE_HASH_SQL).alias("h")).collect()
    ]
    want = [_line_hash(s) for s in lines]
    assert sorted(got) == sorted(want)
    (agg,) = df.agg(F.bit_xor(F.expr(LINE_HASH_SQL)).alias("x")).collect()
    px = 0
    for s in lines:
        px ^= _line_hash(s)
    assert agg["x"] == px


_nullable_keys = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=4)),
        st.booleans(),  # side: False = left, True = right
    ),
    min_size=1,
    max_size=20,
)


@given(rows=_nullable_keys)
@settings(**_SETTINGS)
def test_null_safe_join_equals_grouping_semantics(spark, rows):
    """eqNullSafe full join of two keyed aggregates == a plain GROUP BY
    over the union with per-side counts (NULL is just another key
    under IS NOT DISTINCT FROM). Checks the Q176 semantic on any
    null-mixture, not just the fixture's."""
    data = [(k, s) for k, s in rows]
    df = spark.createDataFrame(data, "k int, right boolean")
    a = (
        df.where(~F.col("right"))
        .groupBy(F.col("k").alias("ka"))
        .agg(F.count(F.lit(1)).alias("na"))
    )
    b = (
        df.where(F.col("right"))
        .groupBy(F.col("k").alias("kb"))
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    j = a.join(b, F.col("ka").eqNullSafe(F.col("kb")), "full").select(
        F.coalesce("ka", "kb").alias("k"),
        F.coalesce("na", F.lit(0)).alias("na"),
        F.coalesce("nb", F.lit(0)).alias("nb"),
    )
    got = {(r["k"], r["na"], r["nb"]) for r in j.collect()}
    want_map: dict[object, list[int]] = {}
    for k, s in data:
        c = want_map.setdefault(k, [0, 0])
        c[1 if s else 0] += 1
    want = {(k, c[0], c[1]) for k, c in want_map.items()}
    assert got == want


_id_sets = st.lists(
    st.integers(min_value=0, max_value=200_000), min_size=1, max_size=40
)


@given(ids=_id_sets)
@settings(**_SETTINGS)
def test_bitmap_distinct_equals_exact_on_any_ids(spark, ids):
    """sum(bitmap_count(bitmap_construct_agg(...))) grouped by bucket ==
    exact count(DISTINCT id) for ANY id multiset — duplicates collapse,
    bucket boundaries (multiples of 32768) don't double-count."""
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    (got,) = (
        df.groupBy(F.expr("bitmap_bucket_number(id)").alias("b"))
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(id))").alias("bm"))
        .agg(F.expr("sum(bitmap_count(bm))").alias("n"))
        .collect()
    )
    assert got["n"] == len(set(ids))


_points = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),   # price grid (ties likely)
        st.integers(min_value=0, max_value=9),   # disc grid
    ),
    min_size=1,
    max_size=30,
)


@given(
    points=_points,
    cut=st.integers(min_value=1, max_value=29),
    cut2=st.integers(min_value=1, max_value=29),
)
@settings(**_SETTINGS)
def test_pareto_sweep_two_phase_equals_brute_dominance(points, cut, cut2):
    """Skyline law (Q189): local-sweep-per-chunk then one global
    MERGED sweep must equal the brute O(n^2) dominance definition for
    ANY point set and ANY chunking — including duplicate points
    (tie-groups survive whole) and single-phase degenerate chunks.
    Phase 2 is deliberately fed the candidate set split across
    MULTIPLE batches (ADVICE r12): Arrow re-batches the single
    post-repartition(1) partition at maxRecordsPerBatch, and a
    per-batch phase 2 would let a row dominated only by a row in
    another batch survive — pareto_sweep_merged must concatenate
    before sweeping, so this property holds at every split point."""
    import pandas as pd

    from project_map_reduce_spark.plans.olap_extra import (
        pareto_sweep,
        pareto_sweep_merged,
    )

    df = pd.DataFrame(
        {
            "rid": range(len(points)),
            "price": [float(p) for p, _ in points],
            "disc": [float(d) for _, d in points],
        }
    )
    chunks = [df.iloc[: min(cut, len(df))], df.iloc[min(cut, len(df)):]]
    local = pd.concat(list(pareto_sweep(iter(chunks))), ignore_index=True)
    k = min(cut2, len(local))
    phase2_batches = [local.iloc[:k], local.iloc[k:]]
    final = pd.concat(
        list(pareto_sweep_merged(iter(phase2_batches))), ignore_index=True
    )
    got = set(final["rid"])

    brute = set()
    for i, (p, d) in enumerate(points):
        dominated = any(
            (p2 <= p and d2 >= d and (p2 < p or d2 > d))
            for j, (p2, d2) in enumerate(points)
            if j != i
        )
        if not dominated:
            brute.add(i)
    assert got == brute


_vec64 = st.lists(
    st.floats(
        min_value=-2.0, max_value=2.0, allow_nan=False, allow_infinity=False
    ),
    min_size=64,
    max_size=64,
)


@given(vecs=st.lists(_vec64, min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_lsh_buckets_match_integer_spec(spark, vecs):
    """LSH law (Q188): the Arrow einsum lane must equal the integer
    signature SPEC — md5-derived ±1 signs dotted with 6-dp micro-unit
    quantized coordinates, bit b set iff the exact integer sum is
    >= 0 — for arbitrary vectors, including near-boundary values the
    fixture never produces. Exactness is the point: there is no
    tolerance in this comparison."""
    from project_map_reduce_spark.plans.similarity import (
        _LSH_H,
        _LSH_T,
        _lsh_signs,
        lsh_bucket_udf,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, vd array<double>"
    )
    got = {
        r["vec_id"]: list(r["b"])
        for r in df.select("vec_id", lsh_bucket_udf()("vd").alias("b")).collect()
    }
    for i, v in enumerate(vecs):
        # spec: python ints, exact
        micro = [round(x * 1e6) for x in v]
        expect = []
        for t in range(_LSH_T):
            bucket = 0
            for h in range(_LSH_H):
                s = _lsh_signs(t, h)
                if sum(m * sj for m, sj in zip(micro, s)) >= 0:
                    bucket |= 1 << h
            expect.append(bucket)
        assert got[i] == expect, (i, got[i], expect)


def _sum6_reference(c: str):
    """The DECIMAL(18,6) accumulator sum6 replaces, as the bit-exact spec."""
    return F.sum(F.col(c).cast("decimal(18,6)")).cast("double")


_UNITS_BOUND = (10**12 - 1) * 10**6  # |x| < 1e12, in 1e-6 units
_sum6_doubles = st.one_of(
    st.none(),
    # any 6-dp value up to the input bound, so also ≥ 2^23
    st.integers(-_UNITS_BOUND, _UNITS_BOUND).map(lambda k: k / 1e6),
    # exact 7th-digit half-ties: HALF_UP, not rint's half-even
    st.integers(-(10**9), 10**9).map(lambda k: float(f"{10 * k + 5}e-7")),
    # 2-dp money
    st.integers(-(10**8), 10**8).map(lambda c: c / 100),
    # arbitrary doubles inside the bound
    st.floats(min_value=-1e12 + 1, max_value=1e12 - 1, allow_nan=False),
)
_sum6_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # group key g
        st.integers(min_value=0, max_value=1),  # sub-key h
        _sum6_doubles,
        st.one_of(st.none(), st.integers(-(10**12) + 1, 10**12 - 1)),
        st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_sum6_rows)
@example(  # every input class at once, with totals far above 2^53 units
    rows=[
        (0, 0, 5e-7, 2**23, 2**31 - 1),
        (0, 1, -5e-7, -(10**12) + 1, -(2**31)),
        (0, 1, 1.2345675, 9 * 10**11, 7),
        (1, 0, 999_999_999_999.999, 10**12 - 1, None),
        (1, 1, 999_999_999_999.999, 10**12 - 1, 1),
        (1, 0, float(2**23), None, 0),
        (2, 0, -3.3e11, 5, -5),
        (2, 1, 0.1, -1, None),
        (3, 0, None, None, None),  # an all-null group
        (3, 1, None, None, None),
    ]
)
@settings(**{**_SETTINGS, "max_examples": 8})
def test_sum6_equals_decimal_accumulator(spark, rows):
    """sum6's long-limb sum == the DECIMAL(18,6) accumulator it replaced,
    bit for bit, for double, long and int inputs under groupBy,
    groupingSets and rollup: negatives, nulls, all-null groups (null),
    7th-digit half-ties (the fallback path), values ≥ 2^23 and totals
    past 2^53 units."""
    from project_map_reduce_spark.functions.det import sum6

    df = spark.createDataFrame(rows, "g int, h int, x double, l long, i int")
    cols = ("x", "l", "i")
    aggs = [sum6(c).alias(c) for c in cols] + [
        _sum6_reference(c).alias(f"{c}_ref") for c in cols
    ]
    by_key, by_sets, by_rollup = (
        grouped.agg(*aggs)
        for grouped in (
            df.groupBy("g"),
            df.groupingSets([["g", "h"], ["g"], []], "g", "h"),
            df.rollup("g", "h"),
        )
    )
    out = by_key.unionByName(by_sets, allowMissingColumns=True).unionByName(by_rollup)
    for r in out.collect():  # one action for all three groupings
        for c in cols:
            assert r[c] == r[f"{c}_ref"], (c, r)


def test_sum6_half_ties_and_null_groups(spark):
    """A 7th-digit tie rounds HALF_UP (away from zero) as the decimal
    cast does — rint alone would round 5e-7 to 0 — and a group with
    only nulls sums to null."""
    from project_map_reduce_spark.functions.det import sum6

    df = spark.createDataFrame(
        [(0, 5e-7), (1, -5e-7), (2, 1.2345675), (3, None)], "g int, x double"
    )
    got = {r["g"]: r["s"] for r in df.groupBy("g").agg(sum6("x").alias("s")).collect()}
    assert got == {0: 1e-6, 1: -1e-6, 2: 1.234568, 3: None}


@pytest.mark.parametrize("value", [1e12, -1e12])
def test_sum6_raises_past_input_bound(spark, value):
    """|x| ≥ 1e12 raises under ANSI instead of wrapping or summing to
    null."""
    from project_map_reduce_spark.functions.det import sum6

    df = spark.createDataFrame([(1.0,), (value,)], "x double")
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        df.agg(sum6("x")).collect()


def test_sum6_skips_nan_and_infinity(spark):
    """NaN and ±infinity cast to a null decimal and drop out of the sum,
    exactly as in the DECIMAL(18,6) reference."""
    from project_map_reduce_spark.functions.det import sum6

    df = spark.createDataFrame(
        [(1.5,), (float("nan"),), (float("inf"),), (float("-inf"),)], "x double"
    )
    (r,) = df.agg(sum6("x").alias("s"), _sum6_reference("x").alias("ref")).collect()
    assert r["s"] == r["ref"] == 1.5
