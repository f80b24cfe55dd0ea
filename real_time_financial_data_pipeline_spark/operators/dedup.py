"""Deduplication operators — exact through fuzzy, all shuffle-aware.

The reference's only dedup is full-row ``drop_duplicates()``
(transformers.py:32-33).  A training-data pipeline needs the whole ladder:

- exact       : hash groupBy on content (or any key subset);
- key-based   : keep newest row per business key;
- fingerprint : 64-bit content hash, groupBy hash;
- MinHash+LSH : shingle -> k minhashes -> bands -> bucket join -> verify.
                Candidate generation is O(docs · bands) with a groupBy on
                (band, signature) — never an all-pairs product;
- SimHash     : 64-bit similarity-preserving signature via vectorized
                pandas_udf (bit-parallel numpy; no builtin expresses it);
- n-gram Jaccard: exact verify step for candidate pairs.

Scale: every stage is a projection or a single hash aggregate.  The LSH
bucket join explodes docs × bands (flat 2-20× row inflation, narrow rows of
(hash, id)), which beats the O(n²) alternative by ~n/bands.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from real_time_financial_data_pipeline_spark.operators import cachescope
from real_time_financial_data_pipeline_spark.operators.query import latest_per_key
from real_time_financial_data_pipeline_spark.operators.text import doc_grams, strip_line


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact dedup: full-row (reference F2) or subset-keyed."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def exact_dedup_keep_min(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact content dedup with deterministic survivor (min id per content) —
    one hash aggregate, map-side combined."""
    others = [c for c in df.columns if c != content_col and c != id_col]
    return df.groupBy(content_col).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
        *[F.min_by(c, id_col).alias(c) for c in others],
    )


def key_dedup_latest(df: DataFrame, key_cols: list[str], time_col: str) -> DataFrame:
    """Keep the newest row per key (ingest-dedup for CDC-style feeds)."""
    return latest_per_key(df, key_cols, time_col)


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    keep_first: bool = True,
) -> DataFrame:
    """Corpus-level paragraph dedup (the CCNet/Dolma sub-document stage):
    remove every paragraph whose trimmed content occurs ``min_count`` or
    more times across the whole corpus, keeping (when ``keep_first``) only
    the single occurrence with the smallest (doc id, paragraph index) —
    boilerplate headers/footers/navigation vanish while each document's
    remaining paragraphs keep their original order.

    Shuffle ledger at 100 TB — the corpus TEXT never shuffles:
    paragraphs explode map-side; occurrence stats are a two-stage HASH
    aggregate ladder — (hash, doc) grain first (within-doc repeats
    collapse map-side; the shuffle key varies by doc, so a boilerplate
    paragraph in 90% of documents CANNOT make one reducer hot), then
    (hash) grain with all-long min/min_by buffers picking the canonical
    (smallest doc, smallest idx within it) occurrence.  min(struct)
    would express that in one aggregate but forces the SortAggregate
    fallback (no mutable hash buffer for struct types) — measured in
    tools/skew_bench.py: the struct form pays a full per-partition sort
    and runs 1.4x slower on a 90%-hot boilerplate corpus (2.73 s vs
    1.97 s at 40k docs); min_by is deterministic here because doc ids
    are unique per hash after the pre-agg.  Duplicated-paragraph stats
    flow back as only the REMOVAL SET — (doc id, indices to drop),
    bounded by |duplicate occurrences| — aggregated per doc and joined
    to the original frame, where a single indexed higher-order filter
    rebuilds the text map-side.  Documents with nothing to remove pass through
    byte-identical (no split/rejoin round trip at all).  Matching is by
    xxhash64 of the trimmed paragraph — at 64 bits a collision (~3e-4
    expected per 1e8 distinct) deletes one innocent paragraph, the
    standard trade every hash-keyed dedup makes.

    Empty/whitespace-only paragraphs are structural, never dedup-eligible,
    and survive in place.  A document whose every paragraph was removed
    comes back with empty text (the quality gate owns that policy).  All
    non-text columns pass through unchanged.
    """
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_idx", "_para"),
    ).withColumn(
        # CRLF-safe strip (text.strip_line): a '\r' left by a CRLF line
        # ending must read as a STRUCTURAL blank line, never a dedup-
        # eligible paragraph that boilerplate-collapses every separator
        "_key",
        F.when(
            strip_line(F.col("_para")) != "", F.xxhash64(strip_line(F.col("_para")))
        ),
    )
    # keep-first WITHOUT min(struct(id, idx)): min over a struct forces
    # the corpus-sized aggregate into SortAggregate (no mutable hash
    # buffer for struct types), which sorts the ENTIRE exploded paragraph
    # table per partition — measured 2.3x slower on a boilerplate-hot
    # corpus (tools/skew_bench.py) because sorting millions of equal keys
    # degenerates.  Instead: pre-aggregate at (key, doc) grain (within-doc
    # repeats collapse map-side), then one tiny (key)-grain aggregate
    # where min_by(min_idx, doc) is DETERMINISTIC (doc ids are unique per
    # key after the pre-agg) and every buffer field is a long — both
    # stages stay real HashAggregates with map-side combine, and the
    # (_fid, _fidx) pair equals the old lexicographic struct min exactly.
    occ = paras.filter(F.col("_key").isNotNull())
    per_doc = occ.groupBy("_key", id_col).agg(
        F.count(F.lit(1)).alias("_c"), F.min("_idx").alias("_midx")
    )
    dup_stats = (
        per_doc.groupBy("_key")
        .agg(
            F.sum("_c").alias("_n"),
            F.min(id_col).alias("_fid"),
            F.min_by("_midx", F.col(id_col)).alias("_fidx"),
        )
        .filter(F.col("_n") >= min_count)
    )
    # inner join: only occurrences OF a duplicated paragraph survive it —
    # the removal candidates, bounded by |duplicate occurrences|
    flagged = paras.join(dup_stats, "_key")
    if keep_first:
        flagged = flagged.filter(
            (F.col("_fid") != F.col(id_col)) | (F.col("_fidx") != F.col("_idx"))
        )
    removals = flagged.groupBy(id_col).agg(F.collect_set("_idx").alias("_drop"))
    rebuilt = F.array_join(
        F.filter(
            F.split(F.col(text_col), "\n"),
            lambda x, i: ~F.array_contains(F.col("_drop"), i),
        ),
        "\n",
    )
    return (
        df.join(removals, id_col, "left")
        .withColumn(
            text_col, F.when(F.col("_drop").isNull(), F.col(text_col)).otherwise(rebuilt)
        )
        .select(*df.columns)
    )


def substring_dup_spans(
    df: DataFrame,
    window_tokens: int = 50,
    stride: int = 1,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_first: bool = True,
    sampling: str = "anchor",
) -> DataFrame:
    """Duplicated-substring spans — the windowed-hash form of ExactSubstr
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499): every ``window_tokens``-token
    window whose content occurs ``min_count``+ times corpus-wide marks
    its positions; overlapping marked windows merge into MAXIMAL
    ``(span_start, span_end)`` token spans per document (end exclusive).
    This is the sub-paragraph rung of the dedup ladder — it catches the
    50-token boilerplate passage embedded mid-document that
    paragraph-level and document-level dedup both miss.

    ``keep_first``: each distinct window's smallest-(doc, start)
    occurrence is not marked, so one copy of every duplicated passage
    survives (the published policy).  A kept occurrence can still lose
    tokens to a DIFFERENT overlapping duplicated window's span — the
    same caveat the suffix-array implementation carries.

    Spark-first shape vs the paper's suffix array (a single-machine,
    memory-resident structure that cannot shard a 100 TB corpus): token
    windows explode map-side, the only shuffle is the two-stage hash
    aggregate on the 64-bit window hash ((hash, doc) grain then (hash)
    grain — the same SortAggregate-free keep-first ladder as
    ``paragraph_dedup``, so a passage shared by 90% of documents keys
    its big shuffle by (hash, doc) and cannot make one reducer hot;
    measured hot ≈ spread-keys in tools/skew_bench.py), and only
    MARKED positions (bounded by |duplicate windows|, not the corpus)
    flow back to the per-doc interval merge, a higher-order fold over
    each doc's sorted marked-position array.

    Cost knob: hashing every window at ``stride=1`` materializes
    O(tokens x window) characters map-side.  ``stride`` s > 1 keeps
    ~1/s of window starts — but CONTENT-ANCHORED (a start is kept when
    its first token's hash ≡ 0 mod s), NOT arithmetic: an arithmetic
    stride samples positions relative to each DOCUMENT, so two
    occurrences of the same passage at different alignments mod s would
    never hash the same window and cross-document duplicates could
    evade at ANY length.  Anchoring on content makes every occurrence
    of a passage sample the SAME relative positions by construction;
    a duplicate is then caught whenever any of its first
    (length - window + 1) token positions is an anchor — miss
    probability (1 - 1/s)^(length - window + 1) under content hashing,
    vanishing fast for passages meaningfully longer than the window.
    A pathological anchor-free passage can evade the anchor mode;
    ``sampling="winnow"`` closes that deterministically with classic
    winnowing (Schleimer et al. 2003): each length-s neighborhood of
    start positions keeps its leftmost-minimum token-hash position, so
    (a) every run of s consecutive starts contributes >= 1 sampled
    window (guaranteed density — no evasion at any content), and (b)
    the selection for a neighborhood fully inside a shared passage
    depends only on passage content, so any duplicate of length >=
    window + s - 1 tokens shares a sampled window across ALL
    occurrences — the deterministic recall bound, at O(s) extra
    comparisons per position.  The paper's 50-token threshold with
    stride 1 is exact under either mode.

    Measured densities (sf0.1 documents, window 20): winnowing tracks
    its structural 2/(s+1) bound — 0.489/0.386/0.206 at s=3/4/8 vs
    0.500/0.400/0.222 — while anchor density equals the anchor tokens'
    share of token MASS, which is ~1/s only under hash-uniform mass
    (0.465 at s=3 here because this tiny synthetic vocabulary's anchor
    tokens happen to be frequent).  On a real corpus's heavy-tailed
    vocabulary, check the anchor density before relying on the 1/s cost
    estimate; winnowing's density is content-independent.

    Returns (id, span_start, span_end), one row per maximal span."""
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    staged = _substring_windows(df, window_tokens, stride, text_col, id_col, sampling)
    # same hash-aggregatable keep-first ladder as paragraph_dedup:
    # min(struct) would force the corpus-sized window aggregate into
    # SortAggregate, so pre-aggregate at (hash, doc) grain (within-doc
    # repeats collapse map-side) and pick the canonical occurrence with
    # all-long min/min_by buffers at (hash) grain — min_by is
    # deterministic here because doc ids are unique per hash after the
    # pre-agg, and (_fid, _fpos) equals the lexicographic struct min
    per_doc = staged.groupBy("_h", "_id").agg(
        F.count(F.lit(1)).alias("_c"), F.min("_pos").alias("_mpos")
    )
    dup = (
        per_doc.groupBy("_h")
        .agg(
            F.sum("_c").alias("_n"),
            F.min("_id").alias("_fid"),
            F.min_by("_mpos", F.col("_id")).alias("_fpos"),
        )
        .filter(F.col("_n") >= min_count)
    )
    marked = staged.join(dup, "_h")
    if keep_first:
        marked = marked.filter(
            (F.col("_fid") != F.col("_id")) | (F.col("_fpos") != F.col("_pos"))
        )
    return _merge_spans(marked, window_tokens, id_col)


def _substring_windows(
    df: DataFrame,
    window_tokens: int,
    stride: int,
    text_col: str,
    id_col: str,
    sampling: str,
) -> DataFrame:
    """(_id, _pos, _h) sampled window occurrences — the shared map-side
    front half of the batch and incremental substring-dedup forms (both
    MUST hash/sample identically or cross-form marks drift)."""
    if window_tokens < 2:
        raise ValueError(f"window_tokens must be >= 2, got {window_tokens}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    if sampling not in ("anchor", "winnow"):
        raise ValueError(f"sampling must be anchor|winnow, got {sampling!r}")
    toks_e = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    w = F.lit(window_tokens)
    tokenized = df.select(
        F.col(id_col).alias("_id"), toks_e.alias("_toks")
    ).filter(F.size("_toks") >= window_tokens)
    last_start = F.size("_toks") - w  # inclusive
    all_starts = F.sequence(F.lit(0), last_start)
    if stride <= 1:
        starts = all_starts
    elif sampling == "anchor":
        # content-anchored sampling: keep a start iff its first token's
        # hash ≡ 0 (mod stride) — occurrence-alignment-independent
        starts = F.filter(
            all_starts,
            lambda i: F.pmod(
                F.xxhash64(F.element_at(F.col("_toks"), (i + 1).cast("int"))),
                F.lit(stride),
            )
            == 0,
        )
    else:
        # winnowing: each length-stride neighborhood of starts keeps its
        # leftmost-minimum token-hash position — guaranteed density AND
        # content-determined interior selection (see docstring)
        th = F.transform(F.col("_toks"), lambda t: F.xxhash64(t))

        def _pick(j):
            idxs = F.sequence(j, F.least(j + stride - 1, last_start))
            init = F.struct(
                F.lit(None).cast("bigint").alias("h"),
                F.lit(-1).cast("bigint").alias("i"),
            )
            best = F.aggregate(
                idxs,
                init,
                lambda acc, i: F.when(
                    acc["h"].isNull()
                    | (F.element_at(th, (i + 1).cast("int")) < acc["h"]),
                    F.struct(
                        F.element_at(th, (i + 1).cast("int")).alias("h"),
                        i.cast("bigint").alias("i"),
                    ),
                ).otherwise(acc),
            )
            return best["i"]

        starts = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(last_start - stride + 1, F.lit(0))),
                _pick,
            )
        )
    return tokenized.select(
        "_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.xxhash64(
                        F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, window_tokens))
                    ).alias("h"),
                ),
            )
        ).alias("_w"),
    ).select("_id", F.col("_w.pos").alias("_pos"), F.col("_w.h").alias("_h"))


def _merge_spans(marked: DataFrame, window_tokens: int, id_col: str) -> DataFrame:
    """(_id, _pos) marked window starts -> maximal (span_start, span_end)
    intervals per doc: fold the sorted positions, extending the open span
    while the next window starts inside it."""
    w = F.lit(window_tokens)
    span_t = "array<struct<s:long,e:long>>"
    merged = (
        marked.groupBy("_id")
        .agg(F.array_sort(F.collect_list("_pos")).alias("_ps"))
        .withColumn(
            "_spans",
            F.aggregate(
                F.col("_ps"),
                F.expr(f"CAST(array() AS {span_t})"),
                lambda acc, p: F.when(
                    (F.size(acc) > 0)
                    & (p <= F.element_at(acc, -1)["e"]),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(
                            F.struct(
                                F.element_at(acc, -1)["s"].alias("s"),
                                F.greatest(
                                    F.element_at(acc, -1)["e"], p + w
                                ).cast("long").alias("e"),
                            )
                        ),
                    ),
                ).otherwise(
                    F.concat(
                        acc,
                        F.array(
                            F.struct(
                                p.cast("long").alias("s"),
                                (p + w).cast("long").alias("e"),
                            )
                        ),
                    )
                ),
            ),
        )
    )
    return merged.select(
        F.col("_id").alias(id_col), F.explode("_spans").alias("_sp")
    ).select(
        id_col,
        F.col("_sp.s").alias("span_start"),
        F.col("_sp.e").alias("span_end"),
    )


def apply_substring_dedup(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut the marked spans out of each document: tokens covered by any
    (span_start, span_end) interval are dropped, survivors rejoin with
    single spaces in original order (the same indexed higher-order
    rebuild as ``paragraph_dedup`` — documents with no spans pass
    through byte-identical, no split/rejoin round trip).  Non-text
    columns pass through unchanged.  Note the rebuild normalizes
    whitespace WITHIN changed documents (token-level surgery cannot
    preserve the original separators around removed tokens)."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("_cut")
    )
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    rebuilt = F.array_join(
        F.filter(
            toks,
            lambda x, i: ~F.exists(
                F.col("_cut"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
            ),
        ),
        " ",
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn(
            text_col,
            F.when(F.col("_cut").isNull(), F.col(text_col)).otherwise(rebuilt),
        )
        .select(*df.columns)
    )


def substring_window_index(
    df: DataFrame,
    window_tokens: int = 50,
    stride: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    sampling: str = "anchor",
) -> DataFrame:
    """The standing corpus's distinct sampled-window hash set
    (``window_hash``) — persist this once (KB-to-GB scale, a tiny
    fraction of corpus bytes) and hand it to
    :func:`substring_dup_spans_between` so nightly index builds amortize
    across every incoming batch, the same persisted-index split as
    ``minhash_pairs_between``.  Build and query MUST share
    window/stride/sampling parameters or hashes won't align — so the
    build parameters ride along as ``window_hash`` column METADATA
    (Spark persists field metadata through parquet write/read in its
    footer schema, so the contract survives the round trip at zero
    storage cost, the same artifact-carries-its-params idea as
    ``save_bpe``) and :func:`substring_dup_spans_between` raises on a
    mismatched query instead of silently under-detecting."""
    meta = {
        "window_tokens": window_tokens,
        "stride": stride,
        "sampling": sampling,
    }
    return (
        _substring_windows(df, window_tokens, stride, text_col, id_col, sampling)
        .select(F.col("_h").alias("window_hash", metadata=meta))
        .distinct()
    )


def _check_index_params(
    corpus_index: DataFrame, window_tokens: int, stride: int, sampling: str
) -> None:
    """Fail fast when a persisted window index is queried with different
    parameters than it was built with (hashes would silently never align
    and every duplicate would evade).  Indexes from before the metadata
    contract carry no parameters — those get a warning, not a pass."""
    field = next(
        (f for f in corpus_index.schema.fields if f.name == "window_hash"), None
    )
    if field is None:
        raise ValueError(
            f"corpus_index must have a window_hash column, got {corpus_index.columns}"
        )
    md = dict(field.metadata or {})
    expected = {
        "window_tokens": window_tokens,
        "stride": stride,
        "sampling": sampling,
    }
    if not any(k in md for k in expected):
        import warnings

        warnings.warn(
            "corpus_index carries no build-parameter metadata (pre-contract "
            "index?); cannot verify it matches "
            f"{expected} — rebuild with substring_window_index to enforce",
            stacklevel=3,
        )
        return
    got = {k: md.get(k) for k in expected}
    if got != expected:
        raise ValueError(
            f"substring window index was built with {got} but queried with "
            f"{expected}; window hashes would never align — rebuild the index "
            "or query with the build parameters"
        )


def substring_dup_spans_between(
    new_docs: DataFrame,
    corpus: DataFrame | None = None,
    window_tokens: int = 50,
    stride: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    sampling: str = "anchor",
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Cross-batch substring dedup — the incremental mirror of
    :func:`substring_dup_spans` (same family split as
    ``minhash_pairs_between`` / ``semdedup_pairs_between``): maximal
    spans in the NEW batch whose windows already occur in the standing
    corpus.  The corpus always wins (no keep-first bookkeeping — a new
    occurrence of corpus content is by definition the later one), so a
    landed batch can be span-cut before ingestion without rescanning
    corpus text.

    Pass either ``corpus`` (its window set is derived on the fly) or a
    precomputed ``corpus_index`` from :func:`substring_window_index`
    (the persisted nightly-build path).  Execution: the new batch's
    windows explode map-side and ONE left-semi join against the hash
    index marks them — |new| x sampled-window rows probe the index; the
    corpus text is never touched.  Within-batch duplicates are NOT
    handled here — run the batch form on the batch for that (or rely on
    the next index rebuild)."""
    if (corpus is None) == (corpus_index is None):
        raise ValueError("pass exactly one of corpus / corpus_index")
    if corpus_index is not None:
        _check_index_params(corpus_index, window_tokens, stride, sampling)
    new_w = _substring_windows(
        new_docs, window_tokens, stride, text_col, id_col, sampling
    )
    if corpus_index is None:
        corpus_index = substring_window_index(
            corpus, window_tokens, stride, text_col, id_col, sampling
        )
    marked = new_w.join(
        corpus_index.select(F.col("window_hash").alias("_h")).distinct(),
        "_h",
        "left_semi",
    )
    return _merge_spans(marked, window_tokens, id_col)


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two string-array columns (as distinct sets)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    grams_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: minhash_i = min over shingles of
    h_i(shingle), with h_i derived from one xxhash64 by affine transforms.
    Entirely JVM-side and codegen'd (explode + hash aggregate); the only
    shuffle is the O(docs · k) partial-aggregated groupBy."""
    # Performance shape.  Higher-order array functions are interpreted in
    # Spark (never whole-stage-codegen'd), and interpreted eval re-computes
    # any subtree a lambda references per element — a naive
    # k × array_min(transform(ngrams(tokens(text)), hash_i)) cost ~200 s for
    # 5k docs.  The fast, scale-correct shape:
    # 1. stage tokenization behind an exchange (doc_grams);
    # 2. EXPLODE shingles to rows — everything downstream is back inside
    #    whole-stage codegen;
    # 3. hash each shingle once (xxhash64), derive the k families by affine
    #    transforms h_i = a_i·h + b_i (universal hashing);
    # 4. ONE hash aggregate computing all k mins — partial (map-side)
    #    combine makes shuffle volume O(docs · k), independent of shingles.
    if grams_df is None:
        grams_df = doc_grams(df, text_col, id_col, shingle_n, "grams")
    # Documents shorter than one shingle get a UNIQUE placeholder shingle:
    # they keep a signature (explode never drops them) but can never LSH-
    # collide with another doc — sub-shingle docs are exact-dedup territory.
    shingles = F.when(F.size("grams") > 0, F.col("grams")).otherwise(
        F.array(F.concat(F.lit("__short__"), F.col(id_col).cast("string")))
    )
    exploded = grams_df.select(F.col(id_col), F.explode(shingles).alias("_sh"))
    hashed = exploded.select(F.col(id_col), F.xxhash64("_sh").alias("_h"))
    rng_a = [2 * i + 1 for i in range(num_hashes)]  # odd multipliers
    rng_b = [0x9E3779B97F4A7C15 * (i + 1) % (2**63) for i in range(num_hashes)]
    aggs = [
        F.min(F.col("_h") * F.lit(a) + F.lit(b)).alias(f"_m{i}")
        for i, (a, b) in enumerate(zip(rng_a, rng_b))
    ]
    return (
        hashed.groupBy(id_col)
        .agg(*aggs)
        .select(
            id_col, F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("minhash")
        )
    )


def _banded(
    signatures: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, band_sig) rows: each signature exploded to its band-slice
    hashes — the shared candidate-generation half of the self-join and the
    two-sided (incremental) LSH paths."""
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",", F.slice(F.col("minhash"), b * rows_per_band + 1, rows_per_band)
                        )
                    ).alias("band_sig"),
                ),
            )
        ).alias("bs"),
    ).select(id_col, "bs.band", "bs.band_sig")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: equal band-slice => candidate pair.

    explode(bands) -> groupBy (band, slice-hash) -> self-join inside tiny
    buckets.  Pairs are emitted once (id_a < id_b).
    """
    banded = _banded(signatures, id_col, bands, rows_per_band)

    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidates ->
    exact Jaccard verify -> pairs above threshold.

    The signature/shingle intermediates are persisted and materialized
    EAGERLY before the joins.  This is not an optimization nicety: the
    signature expression tree (k × array_min(transform(hash(ngram...)))) is
    large, and the self-join + two verify joins would replicate it —
    Catalyst optimization time explodes combinatorially (observed: 300+ s of
    pure planning at 5k docs).  Materializing collapses each subtree to an
    InMemoryRelation.  At warehouse scale these intermediates are exactly
    what you'd persist to storage between stages.
    """
    rows_per_band = num_hashes // bands
    # scoped persists (r18): a repeat same-session invocation must not
    # silently reuse this invocation's caches via CacheManager plan
    # matching — rotate the scope so every call recomputes from its inputs
    cachescope.begin("minhash_dedup_pairs")
    # one shared, persisted gram table feeds BOTH signatures and verify
    docs = cachescope.register(
        "minhash_dedup_pairs",
        doc_grams(df, text_col, id_col, shingle_n, "grams").persist(),
    )
    sigs = cachescope.register(
        "minhash_dedup_pairs",
        minhash_signatures(
            df, text_col, id_col, num_hashes, shingle_n, grams_df=docs
        ).persist(),
    )
    # ONE eager job materializes BOTH caches (computing the signatures
    # scans the persisted gram relation, filling it as a side effect) —
    # a separate docs.count() would be a redundant full gram pass (r17).
    # The count also forces: joins below must plan against cached relations.
    sigs.count()
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    verified = (
        cands.join(docs.withColumnsRenamed({id_col: "id_a", "grams": "grams_a"}), "id_a")
        .join(docs.withColumnsRenamed({id_col: "id_b", "grams": "grams_b"}), "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("grams_a"), F.col("grams_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def minhash_pairs_between(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    threshold: float = 0.7,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Two-sided MinHash-LSH: (id_new, id_corpus, jaccard) for every new
    document near-duplicating an EXISTING corpus document — the incremental
    (daily-crawl vs historical-index) deployment of the self-join pipeline.

    Scale contract: pass ``corpus_sigs`` — the persisted (id, minhash)
    signature table the nightly build already writes — and the 100 TB
    corpus text is touched ONLY for verification, via a semi-join down to
    the candidate ids (bounded by |candidates|, not |corpus|).  Without
    ``corpus_sigs`` the signatures are recomputed here (one full corpus
    pass — fine for tests, wrong for production).  Exact copies are caught
    too: identical text means identical signatures, so every band
    collides and Jaccard verifies at 1.0.

    Caching note: the new-batch grams/signatures and the candidate set are
    persisted internally (same plan-explosion rationale as
    ``minhash_dedup_pairs``) with a SCOPED lifetime (r18,
    ``operators/cachescope``): the next invocation unpersists this one's
    intermediates, so a long-lived driver looping over daily batches
    recomputes each batch honestly without any clearCache() bookkeeping.

    New-batch ids and corpus ids are distinct ROLES (id_new / id_corpus);
    the same document id appearing on both sides is reported like any
    other pair — callers deduplicate by content, not by id equality.
    """
    rows_per_band = num_hashes // bands
    # scoped persists (r18): see minhash_dedup_pairs — repeated invocations
    # must recompute, not plan-match into the previous call's caches
    cachescope.begin("minhash_pairs_between")
    new_grams = cachescope.register(
        "minhash_pairs_between",
        doc_grams(new_docs, text_col, id_col, shingle_n, "grams").persist(),
    )
    new_sigs = cachescope.register(
        "minhash_pairs_between",
        minhash_signatures(
            new_docs, text_col, id_col, num_hashes, shingle_n, grams_df=new_grams
        ).persist(),
    )
    new_sigs.count()  # one job fills BOTH caches (grams via the sig scan, r17)
    if corpus_sigs is None:
        corpus_sigs = minhash_signatures(corpus, text_col, id_col, num_hashes, shingle_n)
    cands = (
        _banded(new_sigs, id_col, bands, rows_per_band)
        .withColumnRenamed(id_col, "id_new")
        .join(
            _banded(corpus_sigs, id_col, bands, rows_per_band).withColumnRenamed(
                id_col, "id_corpus"
            ),
            ["band", "band_sig"],
        )
        .select("id_new", "id_corpus")
        .distinct()
        .persist()
    )
    cachescope.register("minhash_pairs_between", cands)
    cands.count()  # materialize: the semi-join below must not re-plan the LSH tree
    corpus_subset = corpus.join(
        cands.select(F.col("id_corpus").alias(id_col)).distinct(), id_col, "left_semi"
    )
    corpus_grams = doc_grams(corpus_subset, text_col, id_col, shingle_n, "grams")
    return (
        cands.join(
            new_grams.withColumnsRenamed({id_col: "id_new", "grams": "grams_a"}), "id_new"
        )
        .join(
            corpus_grams.withColumnsRenamed({id_col: "id_corpus", "grams": "grams_b"}),
            "id_corpus",
        )
        .withColumn("jaccard", F.round(jaccard(F.col("grams_a"), F.col("grams_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_new", "id_corpus", "jaccard")
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    threshold: float = 0.7,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Drop every new document that near-duplicates (or exactly copies) an
    existing corpus document — one anti-join over the flagged id set.
    Compose AFTER within-batch curation: ``curate_documents(new_batch)``
    then ``incremental_dedup(curated, corpus, corpus_sigs=index)``."""
    flagged = minhash_pairs_between(
        new_docs, corpus, text_col, id_col, num_hashes, shingle_n, bands,
        threshold, corpus_sigs,
    ).select(F.col("id_new").alias(id_col)).distinct()
    return new_docs.join(flagged, id_col, "left_anti")


def resolve_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    driver_threshold: int = 1_000_000,
    id_col: str = "doc_id",
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup pairs -> (doc_id, canonical_id): connected components over
    the similarity graph, canonical = minimum id in the component.

    Hybrid execution: the pair graph is orders of magnitude smaller than
    the corpus (LSH + verify already collapsed it), so up to
    ``driver_threshold`` edges (~16 bytes each — 1M edges ≈ 16 MB) a
    driver-side union-find resolves components in microseconds.  Above
    the threshold the distributed **large-star/small-star** two-phase
    algorithm takes over (:func:`_resolve_two_phase_star`) — O(log n)
    rounds on ANY graph shape, where per-round min-label propagation
    needs O(component diameter) rounds and an adversarial near-dup CHAIN
    (A~B~C~…, common in shingled boilerplate corpora) makes the diameter
    O(n).  Same output either way; ``stats['rounds']`` reports the
    distributed round count when a dict is passed.
    """
    n_pairs = pairs.count()
    if n_pairs <= driver_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in pairs.select(id_a, id_b).toLocalIterator():
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                # union by min so the canonical root is the minimum id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        labels = [(node, find(node)) for node in parent]
        if stats is not None:
            stats["rounds"] = 0
        return pairs.sparkSession.createDataFrame(
            labels, f"{id_col} long, canonical_id long"
        )
    return _resolve_two_phase_star(pairs, id_a, id_b, id_col, max_rounds, stats)


def _star_round(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One large-star + small-star pass over a canonical (a > b) edge set.

    ``edges`` is the undirected graph as canonical pairs; returns the new
    canonical edge set after applying BOTH operations (large-star first),
    each operation seeing the other's output — the alternating schedule
    of Kiveris et al., "Connected Components in MapReduce and Beyond"
    (SoCC'14).  Per node v with neighborhood Γ(v) and
    m = min(Γ(v) ∪ {v}):

    - large-star: every STRICTLY LARGER neighbor u > v re-links to m
      (edges (u, m)) — halves the height of tall trees in one pass;
    - small-star: every smaller-or-equal neighbor and v itself re-link
      to m (edges (u, m) for u < v, plus (v, m)) — collapses the chains
      large-star leaves behind.

    Every emitted edge already satisfies m < other end (m is the
    neighborhood minimum), so the output is canonical by construction;
    self-loops (u == m) are dropped.
    """

    def one_star(canon: DataFrame, large: bool) -> DataFrame:
        directed = canon.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
            canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        nbr_min = (
            directed.groupBy("src")
            .agg(F.min("dst").alias("_mind"))
            .select("src", F.least("src", "_mind").alias("m"))
        )
        if large:
            emitted = (
                directed.filter(F.col("dst") > F.col("src"))
                .join(nbr_min, "src")
                .select(F.col("dst").alias("a"), F.col("m").alias("b"))
            )
        else:
            emitted = (
                directed.filter(F.col("dst") < F.col("src"))
                .join(nbr_min, "src")
                .select(F.col("dst").alias("a"), F.col("m").alias("b"))
                .union(nbr_min.select(F.col("src").alias("a"), F.col("m").alias("b")))
            )
        return emitted.filter(F.col("a") != F.col("b")).distinct()

    after_large = one_star(edges, large=True)
    after_small = one_star(after_large, large=False)
    return after_large, after_small


def _resolve_two_phase_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Distributed connected components in O(log n) rounds: alternating
    large-star / small-star edge contractions (Kiveris et al., SoCC'14)
    until the edge set reaches its fixpoint — a star forest in which
    every node points directly at its component's minimum id.

    Scale shape per round: one groupBy (per-node neighborhood min), one
    keyed join (re-link), one distinct — all hash-partitioned on node id,
    never materializing neighborhoods as arrays, so a hot node (one
    paragraph shared by millions of docs) is a hot KEY in a map-side-
    combinable aggregate, not a hot in-memory list.  ``localCheckpoint``
    truncates lineage per round.  Convergence is verified EXACTLY (count
    equality + empty set-difference, not a fingerprint), and
    non-convergence within ``max_rounds`` raises rather than returning
    moving labels — max_rounds=50 covers graphs astronomically past any
    real corpus (rounds grow ~log n; a planted 4k-node chain converges
    in 7, see tools/skew_bench.py).
    """
    n_parts = max(4, pairs.sparkSession.sparkContext.defaultParallelism // 4)
    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("a"),
            F.least(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(n_parts, "a")
        .localCheckpoint()
    )
    all_nodes = (
        edges.select(F.col("a").alias(id_col))
        .union(edges.select(F.col("b").alias(id_col)))
        .distinct()
        .localCheckpoint()
    )
    from real_time_financial_data_pipeline_spark.operators.crawl_graph import (
        _release_checkpoint,
    )

    converged = False
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        _, new_edges = _star_round(edges)
        new_edges = new_edges.repartition(n_parts, "a").localCheckpoint()
        # exact fixpoint test: same cardinality and nothing new on either
        # side (both are distinct sets, so one-sided subtract suffices
        # once the counts match)
        done = (
            new_edges.count() == edges.count()
            and new_edges.subtract(edges).isEmpty()
        )
        # the old round's checkpoint is superseded (new_edges is an
        # EAGER checkpoint, already materialized; the fixpoint test
        # above was its last reader) — release its blocks now instead
        # of ratcheting them until JVM GC, the same long-session leak
        # the pagerank loop fixed (r14 review item)
        old = edges
        edges = new_edges
        _release_checkpoint(old, reliable=False)
        if done:
            converged = True
            break
    if not converged:
        # silent exit would emit WRONG components (edge set still moving)
        raise RuntimeError(
            f"two-phase star contraction did not converge in {max_rounds} "
            "rounds; raise max_rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint edge set is the star forest {(member, component_min)};
    # roots never appear on the 'a' side, so they label themselves
    return all_nodes.join(
        edges.select(F.col("a").alias(id_col), F.col("b").alias("_canon")),
        id_col,
        "left",
    ).select(
        id_col, F.coalesce(F.col("_canon"), F.col(id_col)).alias("canonical_id")
    )


def apply_dedup(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Drop non-canonical members of every near-dup cluster (keep min id).

    Anti-join against the resolved non-canonical set — the corpus streams
    through one broadcast-able filter; only the (tiny) pair graph iterates.
    """
    clusters = resolve_dup_clusters(pairs, id_col=id_col)
    losers = clusters.filter(F.col(id_col) != F.col("canonical_id")).select(id_col)
    return df.join(losers, id_col, "left_anti")


def simhash(df: DataFrame, text_col: str = "text", out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash via Arrow-vectorized pandas_udf.

    Bit-vote accumulation over token hashes has no Spark builtin; the UDF
    is numpy-vectorized per Arrow batch.  Token hashing is FNV-1a 64
    (deterministic, dependency-free) computed WITHOUT per-token Python
    loops: all tokens in the batch are flattened into one byte array and
    the FNV state advances one CHARACTER POSITION at a time across every
    token simultaneously (masked gather + uint64 wraparound multiply), so
    the Python-level loop count is max-token-length, not total characters.
    Bit votes then aggregate per document with one scatter-add.  Output is
    byte-identical to the per-row reference implementation (see
    tests/test_dedup_similarity.py).

    Single-file inputs are repartitioned so the Python workers run on all
    cores (same small-file consideration as doc_grams).
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        import numpy as np

        n_docs = len(texts)
        tok_lists = [
            [w for w in (t or "").lower().split(" ") if w] for t in texts
        ]
        doc_lens = np.fromiter(
            (len(tl) for tl in tok_lists), dtype=np.int64, count=n_docs
        )
        n_toks = int(doc_lens.sum())
        if n_toks == 0:
            return pd.Series(np.zeros(n_docs, dtype=np.int64))

        toks = [w.encode("utf-8") for tl in tok_lists for w in tl]
        tok_lens = np.fromiter((len(b) for b in toks), dtype=np.int64, count=n_toks)
        flat = np.frombuffer(b"".join(toks), dtype=np.uint8).astype(np.uint64)
        offs = np.zeros(n_toks, dtype=np.int64)
        np.cumsum(tok_lens[:-1], out=offs[1:])

        # FNV-1a over all tokens at once, one char position per step
        h = np.full(n_toks, 0xCBF29CE484222325, dtype=np.uint64)
        prime = np.uint64(0x100000001B3)
        for j in range(int(tok_lens.max())):
            mask = tok_lens > j
            h[mask] = (h[mask] ^ flat[offs[mask] + j]) * prime

        # per-doc bit votes: majority of token bits sets the signature bit
        bit_idx = np.arange(64, dtype=np.uint64)
        bits = ((h[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
        doc_idx = np.repeat(np.arange(n_docs), doc_lens)
        votes = np.zeros((n_docs, 64), dtype=np.int64)
        np.add.at(votes, doc_idx, bits)
        pos = votes * 2 > doc_lens[:, None]  # == (votes*2 - n) > 0
        weights = np.uint64(1) << bit_idx
        sigs = (pos.astype(np.uint64) * weights[None, :]).sum(axis=1)
        return pd.Series(sigs.view(np.int64))

    return df.withColumn(out_col, _simhash(F.col(text_col)))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: all (id_a < id_b) with signature Hamming
    distance ≤ ``max_hamming``.

    Candidate generation is the pigeonhole banding trick: split the 64-bit
    signature into ``bands`` equal bit-slices — two signatures within
    Hamming distance ``bands - 1`` MUST agree exactly on at least one
    slice (≤ bands-1 differing bits can't touch all bands).  So for
    ``max_hamming ≤ bands - 1`` the banded self-join is EXHAUSTIVE, never
    an all-pairs product: explode to (band, slice) rows, join on slice
    equality per band, verify exact Hamming on the candidates.  Same
    O(docs·bands) shuffle shape as MinHash-LSH banding.

    Pass ``sig_df`` (an ``(id, simhash)`` frame) to reuse precomputed
    signatures; otherwise they're computed from ``text_col``.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding with {bands} bands only guarantees recall for "
            f"max_hamming <= {bands - 1}; got {max_hamming}"
        )
    if sig_df is None:
        sig_df = simhash(df, text_col).select(id_col, "simhash")
    width = 64 // bands
    mask = (1 << width) - 1
    banded = sig_df.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"(simhash >> {b * width}) & {mask}L").alias("slice"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select(id_col, "simhash", "bs.band", "bs.slice")
    a = banded.withColumnsRenamed({id_col: "id_a", "simhash": "sim_a"}).alias("a")
    b = banded.withColumnsRenamed({id_col: "id_b", "simhash": "sim_b"}).alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", hamming64(F.col("sim_a"), F.col("sim_b")).cast("long")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def merge_dup_clusters(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
    driver_threshold: int = 1_000_000,
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Incremental connected components: fold a NEW batch of near-dup
    pairs into a standing (``id_col``, canonical_id) labeling WITHOUT the
    historical pair graph.

    The standing labels are a spanning structure of everything resolved
    so far — the star edges (member -> canonical) preserve its
    connectivity exactly — so resolving (star edges) ∪ (new pairs) yields
    components identical to a full recompute over (all historical pairs)
    ∪ (new pairs), at |labeled docs| + |batch| edges instead of
    re-walking every pair ever found.  That is the cadence a 100 TB lake
    actually runs: nightly LSH emits the day's pairs, this folds them
    into the persisted cluster table in ~2-3 star rounds (the star edges
    are already depth-1; only the new bridges need contracting).

    Canonical ids stay min-of-component, so merging two standing
    clusters re-canonicalizes the larger-rooted one — downstream
    "keep the canonical" decisions must re-read the merged table (same
    contract as any min-id resolver).  Output covers every doc in
    ``labels`` plus every doc in ``new_pairs``; docs labeled (x, x) with
    no new pair pass through unchanged.
    """
    star_edges = labels.filter(F.col(id_col) != F.col("canonical_id")).select(
        F.col(id_col).alias(id_a), F.col("canonical_id").alias(id_b)
    )
    combined = star_edges.unionByName(new_pairs.select(id_a, id_b))
    merged = resolve_dup_clusters(
        combined, id_a, id_b, driver_threshold, id_col, max_rounds, stats
    )
    # resolve only emits docs that appear in some edge; labels rows that
    # are self-canonical singletons with no new pair carry through as-is
    carried = labels.join(merged.select(id_col), id_col, "left_anti")
    return merged.unionByName(carried.select(id_col, "canonical_id"))
