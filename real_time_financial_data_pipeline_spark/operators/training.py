"""Training-set assembly operators: deterministic splits, deterministic
sampling, and token-window document chunking.

Why not the Spark built-ins at 100 TB:

- ``DataFrame.randomSplit``/``sampleBy`` draw from a seeded RNG whose stream
  is tied to partition layout — re-running after a repartition, an AQE
  re-plan, or a file-count change silently reassigns rows, which is a
  train/test-contamination bug at training-pipeline scale.  Content-hash
  assignment (``xxhash64(key, salt)``) is a pure projection: the same key
  lands in the same split on any cluster, any layout, any day.
- Chunking is expressed with higher-order array functions + one
  ``posexplode`` — no Python in the loop, no shuffle; a 100 TB documents
  table streams through as a narrow map-only stage.

All outputs are deterministic functions of (row content, parameters), so
every operator here is replay-safe under task retries and exactly-once under
speculative execution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from real_time_financial_data_pipeline_spark.operators import cachescope

# Hash-bucket resolution for split/sample assignment.  2^20 buckets keeps
# the quantization error of any fraction below 1e-6 while staying far from
# the int64 hash range (no modulo-bias concerns).
_BUCKETS = 1 << 20


def _unit_hash(key: Column, salt: str) -> Column:
    """Uniform [0, 1) double derived from the key content + salt.

    ``\\x1f`` (unit separator) joins key and salt so ("ab", "c") and
    ("a", "bc") hash differently.  xxhash64 is JVM-side and codegen'd —
    the assignment is a pure projection, no shuffle, no RNG state.
    NULL keys: concat_ws skips nulls, so every null key hashes to the
    same bucket and lands in ONE split deterministically (grouped-
    leakage-safe; xxhash64 itself would return its seed on an all-null
    input — see the jsonl_source id-ladder note for why that matters).
    """
    h = F.xxhash64(F.concat_ws("\x1f", key.cast("string"), F.lit(salt)))
    return F.pmod(h, F.lit(_BUCKETS)).cast("double") / F.lit(float(_BUCKETS))


def assign_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Deterministically assign each row to a named split by key content.

    ``weights`` maps split name -> relative weight (normalized internally);
    iteration order fixes the bucket layout, so pass the same dict to get
    the same assignment.  Rows with equal keys always land in the same
    split (leakage-safe for grouped data: key on document/user id, not on
    row position).  Changing ``salt`` re-deals every assignment.
    """
    if weights is None:
        weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be non-empty and strictly positive")
    total = float(sum(weights.values()))
    u = _unit_hash(F.col(key_col), salt)
    names = list(weights)
    expr: Column | None = None
    cum = 0.0
    # chained WHEN on cumulative weight; the last split is the OTHERWISE so
    # floating-point residue can never produce an unassigned row
    for name in names[:-1]:
        cum += weights[name] / total
        branch = F.when(u < F.lit(cum), F.lit(name))
        expr = branch if expr is None else expr.when(u < F.lit(cum), F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn(split_col, expr)


def sample_by_hash(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Deterministic ~``fraction`` sample by key content.

    Nested by construction: ``sample_by_hash(df, k, 0.1, s)`` is a subset of
    ``sample_by_hash(df, k, 0.2, s)`` — growing a sample never re-draws the
    rows already taken, so downstream caches/labels stay valid.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_unit_hash(F.col(key_col), salt) < F.lit(fraction))


def sample_exact_k(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """EXACTLY min(k, |stratum|) rows per stratum, picked by content
    hash — the fixed-budget companion to the fractional samplers
    (``sample_by_hash`` gives a RATE; eval-set construction and per-domain
    caps need a COUNT: "2,000 docs per domain, same 2,000 on any cluster,
    any day").

    Selection = the k smallest ``xxhash64(key, salt)`` values per
    stratum (ties on the full 64-bit hash broken by the key itself), so
    the sample is a pure function of row content + salt: layout- and
    retry-independent, and DISJOINT samples come from different salts.
    Unlike the fractional samplers it is not nested across k — growing k
    keeps the previous k rows as a PREFIX (rank is stable), which is the
    useful monotonicity: the 1,000-per-domain eval set is the first half
    of the 2,000-per-domain one.

    Execution: one hash-partitioned window sort per stratum
    (``row_number`` ≤ k).  At 100 TB the sort input can be pre-shrunk
    with a cheap ``sample_by_hash`` pre-filter at a few × k/|stratum|
    when stratum sizes are known — documented escape hatch, not done
    implicitly (a wrong size estimate would silently under-fill).
    ``key_col`` must identify rows uniquely within a stratum — rows
    sharing a key tie on both the hash and the tie-break, and which of
    them crosses the rank-k boundary would be layout-dependent (the
    same uniqueness contract as ``deterministic_shuffle``)."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not strata_cols:
        raise ValueError("strata_cols must be non-empty")
    h = F.xxhash64(F.col(key_col), F.lit(salt))
    w = Window.partitionBy(*strata_cols).orderBy(h, F.col(key_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def sample_token_budget(
    df: DataFrame,
    strata_cols: list[str],
    budget_tokens: int | dict,
    key_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    salt: str = "",
    order_hash: "Callable[[Column, str], Column] | None" = None,
) -> DataFrame:
    """TOKEN-budget-bounded sample per stratum — the unit pretraining
    mixtures are actually specified in ("20B tokens of code, 5B of
    books"), where :func:`sample_exact_k` budgets COUNTS: take documents
    in ``xxhash64(key, salt)`` order until the stratum's cumulative
    whitespace-token total reaches ``budget_tokens``.  The document that
    CROSSES the boundary is included (take-until-reached), so every
    stratum with any data yields at least one document and the shortfall
    is never more than one document's tokens.

    ``budget_tokens`` is an int (one budget applied to EVERY stratum) or
    a dict mapping stratum value -> budget — the form real mixes are
    written in ("20B code + 5B books"): keys are the stratum value for a
    single-column stratification, tuples in ``strata_cols`` order for
    composite strata.  Dict keys MUST cover every stratum present in
    ``df`` — a stratum with no budget raises at execution (an implicit
    "unbudgeted strata pass/drop silently" default would corrupt a mix
    either way); extra keys for absent strata are fine.  Per-stratum
    budgets keep prefix-monotonicity WITHIN each stratum: raising one
    stratum's budget only appends documents to that stratum and leaves
    every other stratum's sample untouched.  The dict travels as a
    broadcast lookup join, never a driver loop.

    Deterministic and layout-independent like its siblings: the take
    order is a pure function of (key content, salt), so the same budget
    selects the same documents on any cluster, any day — and the sample
    is PREFIX-MONOTONE in the budget: raising ``budget_tokens`` only
    appends documents (the order is fixed), so a 5B-token slice is a
    prefix of the 20B one and downstream caches stay valid.  Disjoint
    samples come from different salts.

    ``tokens_col`` uses a precomputed per-doc token count (e.g. from
    ``token_stats`` or a real-tokenizer ``bpe_token_count``) instead of
    the whitespace count of ``text_col`` — pass it when budgets must be
    model tokens, not words.  ``order_hash(key_column, salt)`` swaps the
    take-order hash (default ``xxhash64(key, salt)``) for another pure
    content hash — e.g. ``md5(key || salt)`` when the order must be
    replayable by an engine without xxhash64 (the DuckDB oracle row uses
    exactly that); the kernel is hash-agnostic, only determinism and
    content-purity of the order matter.

    Execution: one hash-partitioned window per stratum computing the
    cumulative token sum over PRECEDING rows (unbounded-preceding
    running frame), then a codegen'd filter — the same single-shuffle
    shape as ``sample_exact_k``; at 100 TB the window input can be
    pre-shrunk with a ``sample_by_hash`` pre-filter when stratum sizes
    are known, the same documented escape hatch.  ``key_col`` must be
    unique within a stratum (ties would make the boundary document
    layout-dependent — same contract as the other samplers)."""
    from pyspark.sql import Window

    if not strata_cols:
        raise ValueError("strata_cols must be non-empty")
    out_cols = df.columns  # the lookup join reorders; restore on the way out
    if isinstance(budget_tokens, dict):
        if not budget_tokens:
            raise ValueError("budget_tokens dict must be non-empty")
        rows = []
        for key, b in budget_tokens.items():
            kt = key if isinstance(key, tuple) else (key,)
            if len(kt) != len(strata_cols):
                raise ValueError(
                    f"budget key {key!r} has {len(kt)} parts for "
                    f"{len(strata_cols)} strata columns"
                )
            if int(b) < 1:
                raise ValueError(f"budget for stratum {key!r} must be >= 1, got {b}")
            rows.append((*kt, int(b)))
        lookup = df.sparkSession.createDataFrame(rows, [*strata_cols, "_budget"])
        df = df.join(F.broadcast(lookup), strata_cols, "left")
        budget_col = F.when(
            F.col("_budget").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("sample_token_budget: stratum ("),
                    F.concat_ws(
                        ", ", *[F.col(c).cast("string") for c in strata_cols]
                    ),
                    F.lit(") has no budget — dict keys must cover every present stratum"),
                )
            ).cast("long"),
        ).otherwise(F.col("_budget"))
    else:
        if budget_tokens < 1:
            raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")
        budget_col = F.lit(int(budget_tokens))
    from .text import tokens as _tokens

    n_tok = (
        F.col(tokens_col)
        if tokens_col is not None
        else F.size(_tokens(F.col(text_col)))
    ).cast("long")
    h = (
        order_hash(F.col(key_col), salt)
        if order_hash is not None
        else F.xxhash64(F.col(key_col), F.lit(salt))
    )
    w = (
        Window.partitionBy(*strata_cols)
        .orderBy(h, F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(n_tok).over(w), F.lit(0))
    return (
        df.withColumn("_cum_before", cum_before)
        .filter(F.col("_cum_before") < budget_col)
        .select(*out_cols)
    )


def deterministic_shuffle(
    df: DataFrame, key_cols: list[str], seed: int = 0
) -> DataFrame:
    """Reproducible global shuffle for training-example order: total sort by
    ``xxhash64(key..., seed)`` with the key columns as tie-break — the
    standard way to write an epoch's worth of shuffled training data.

    Unlike ``orderBy(rand(seed))`` (partition-layout-dependent RNG), the
    order is a pure function of row content + seed: any cluster, any
    layout, any day produces byte-identical file order, so a resumed or
    re-run data job never silently re-orders an epoch.  Different seeds
    give independent epoch orders.  Cost: one range-partitioned sort —
    exactly what the final write of a prepared dataset pays anyway
    (``df.sortWithinPartitions`` variants cannot give a GLOBAL order).

    ``key_cols`` must uniquely identify rows — that is what makes the
    order total.  For chunked training data pass the composite key, e.g.
    ``["doc_id", "chunk_id"]``: rows sharing a partial key would tie on
    both the hash and the tie-break and their relative order would be
    layout-dependent again.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    h = F.xxhash64(*[F.col(c) for c in key_cols], F.lit(seed))
    return df.orderBy(h, *[F.col(c) for c in key_cols])


def curriculum_order(
    df: DataFrame,
    quality_model: DataFrame,
    key_cols: list[str],
    text_col: str = "text",
    bands: int = 10,
    ascending: bool = True,
    seed: int = 0,
    band_col: str = "quality_band",
) -> DataFrame:
    """Curriculum data ordering: score every example with a trained
    quality model (``classifier.apply_quality_model`` — dense or hashed,
    dispatched on the weights schema), quantize the score into ``bands``
    difficulty bands, and emit the dataset ordered band-by-band with a
    DETERMINISTIC shuffle inside each band.

    This is the standard curriculum recipe (easy->hard or hard->easy is
    the ``ascending`` knob; banding-then-shuffling keeps gradient noise
    inside a difficulty level instead of presenting examples in raw score
    order).  The within-band order reuses :func:`deterministic_shuffle`'s
    content-hash convention — ``xxhash64(key..., seed)`` with the keys as
    tie-break — so the full epoch order is a pure function of row content
    + model + seed: any cluster layout reproduces it byte-identically,
    and different seeds re-shuffle within bands without moving anything
    across bands.

    Cost at 100 TB: ONE range-partitioned global sort on
    ``(band, hash, keys)`` — the same shape as the epoch-shuffle write the
    final dataset pays anyway; the scoring projection fused below it is
    map-only.  Output = input columns + ``band_col``.

    ``key_cols`` must uniquely identify rows (see
    :func:`deterministic_shuffle`); for chunked data pass
    ``["doc_id", "chunk_id"]``.

    Raises if the input already carries the scorer's working columns
    (``quality_logit`` / ``quality_prob`` / ``quality_keep``) or
    ``band_col``: the scoring projection would silently overwrite the
    caller's values and the final column restore would emit the
    overwritten data as if it were the input's.  Rename or drop those
    columns first (same fail-fast convention as ``fuzzy_join`` /
    ``range_join``).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    clash = sorted(
        set(df.columns) & {"quality_logit", "quality_prob", "quality_keep", band_col}
    )
    if clash:
        raise ValueError(
            "curriculum_order would overwrite input column(s) "
            f"{clash}: rename or drop them before ordering"
        )
    from .classifier import apply_quality_model

    scored = apply_quality_model(df, quality_model, text_col)
    band = F.least(
        F.floor(F.col("quality_prob") * bands).cast("int"), F.lit(bands - 1)
    )
    h = F.xxhash64(*[F.col(c) for c in key_cols], F.lit(seed))
    band_sorted = F.col(band_col) if ascending else F.col(band_col).desc()
    return (
        scored.withColumn(band_col, band)
        .orderBy(band_sorted, h, *[F.col(c) for c in key_cols])
        .select(*df.columns, band_col)
    )


def target_mix_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "mix",
    default_fraction: float = 1.0,
) -> DataFrame:
    """Deterministic per-stratum (domain-reweighting) sample: keep a
    hash-chosen ``fractions[stratum]`` of each stratum's keys — the
    data-mixing knob of a training pipeline (down-weight crawl, keep all of
    code/books) expressed as one codegen'd filter, no shuffle, no RNG.

    Strata absent from ``fractions`` keep ``default_fraction``.  Per
    stratum the same nesting guarantee as ``sample_by_hash`` holds:
    raising a stratum's fraction only ADDS keys, never re-draws.  Keep
    ``salt`` distinct from the split-assignment salt — with the same
    (key, salt) the kept sample would be exactly the low end of the unit
    interval that split assignment carves, i.e. a split-correlated sample.
    """
    for name, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for {name!r} must be in [0, 1], got {f}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0, 1], got {default_fraction}")
    u = _unit_hash(F.col(key_col), salt)
    frac: Column | None = None
    for name, f in fractions.items():
        cond = F.col(strata_col) == F.lit(name)
        branch = F.when(cond, F.lit(float(f)))
        frac = branch if frac is None else frac.when(cond, F.lit(float(f)))
    frac = (
        F.lit(float(default_fraction))
        if frac is None
        else frac.otherwise(F.lit(float(default_fraction)))
    )
    return df.filter(u < frac)


def domain_mix(
    df: DataFrame, strata_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Corpus mixture report: per stratum, document count, whitespace-token
    count, and each one's share of the corpus total — the before/after view
    for ``target_mix_sample`` decisions.

    One corpus-sized hash aggregate (map-side combine applies); the share
    window runs over the aggregated table, which has one row per stratum.
    """
    from pyspark.sql import Window

    from .text import tokens

    per = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col(text_col))).cast("long")).alias("n_tokens"),
    )
    w = Window.partitionBy()
    return per.select(
        strata_col,
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("doc_share"),
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(w), 6).alias("token_share"),
    )


def flag_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least
    ``min_shared`` distinct token ``n``-grams with the benchmark set.

    Returns (``id_col``, n_shared_grams), one row per flagged document.
    An n-gram match requires a verbatim n-token run, so n is the knob:
    8-13 word-grams is the published range for eval decontamination
    (GPT-3 used 13-grams; n-1 shared tokens produce zero shared n-grams).

    Plan shape: both sides explode to (gram) / (id, gram); the benchmark
    side is DISTINCT'd and broadcast — eval sets are tiny next to a
    training corpus, so the join is map-side and the corpus side never
    shuffles BEFORE the join.  Each shared gram counts once per doc via
    ``count_distinct(gram)`` in the per-doc aggregate (NOT a pre-join
    distinct, which would shuffle the full exploded corpus gram table) —
    the only shuffle over corpus-derived rows carries matched grams only,
    bounded by |matches|, not |corpus| × grams-per-doc.
    """
    from pyspark.sql.functions import broadcast

    from .text import doc_grams, gram_set

    # gram_set, not doc_grams: the benchmark frame only needs the text
    # column — it may carry a different (or no) id column than the corpus
    bench_grams = gram_set(benchmark, text_col, n)
    corpus_grams = doc_grams(corpus, text_col, id_col, n).select(
        F.col(id_col), F.explode("grams").alias("gram")
    )
    return (
        corpus_grams.join(broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= min_shared)
    )


def remove_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Anti-join the flagged set out of the corpus — the corpus streams
    through one broadcast-able filter, mirroring ``apply_dedup``."""
    flagged = flag_contaminated(corpus, benchmark, text_col, id_col, n, min_shared)
    return corpus.join(flagged.select(id_col), id_col, "left_anti")


def _ffd_assign(sizes: list[int], budget: int) -> list[int]:
    """First-fit pack index per item; ``sizes`` must already be sorted
    descending (the FFD order).  Scans OPEN packs only: in descending
    order the minimum of the remaining items is the global minimum (the
    last element), so any pack whose residual capacity drops below it can
    never fit another item and is closed.  A closed pack was unfittable
    for every remaining item, so skipping it yields the exact same
    assignment as scanning the full creation-order pack list — the
    invariant tests/test_properties.py checks against a naive reference.
    """
    min_item = sizes[-1] if sizes else 0
    open_packs: list[list[int]] = []  # [pack index, remaining capacity]
    n_packs = 0
    assigned: list[int] = []
    for n in sizes:
        for slot in open_packs:
            if n <= slot[1]:
                slot[1] -= n
                assigned.append(slot[0])
                if slot[1] < min_item:
                    open_packs.remove(slot)
                break
        else:
            cap = budget - n
            assigned.append(n_packs)
            if cap >= min_item:
                open_packs.append([n_packs, cap])
            n_packs += 1
    return assigned


def pack_sequences(
    chunks: DataFrame,
    token_budget: int,
    id_col: str = "doc_id",
    chunk_col: str = "chunk_id",
    tokens_col: str = "n_chunk_tokens",
    n_buckets: int | None = None,
    rows_per_bucket: int = 1_000_000,
) -> DataFrame:
    """Assign chunks to fixed-budget packs (sequence/example packing): every
    pack's token sum is ≤ ``token_budget``, minimizing pad waste when packs
    become training sequences.

    Bin packing is inherently sequential, so the distributed shape is
    bucket-then-pack: chunks land in buckets by content hash
    (layout-independent), and each bucket runs first-fit-decreasing over
    its chunks sorted by (tokens desc, id, chunk) — deterministic
    regardless of partitioning, parallel across buckets, state bounded by
    one bucket's OPEN packs.  FFD's 11/9·OPT+1 bound applies per bucket;
    cross-bucket waste is at most one under-filled pack per bucket, which
    at 100 TB (billions of chunks, thousands of buckets) is noise.
    Oversized chunks (> budget) raise — chunk below the budget upstream.

    Memory contract: a bucket is materialized as ONE pandas DataFrame in
    one task, so per-bucket rows bound executor memory.  With
    ``n_buckets=None`` (the default) the bucket count is derived from a
    ``rows_per_bucket`` target via one ``chunks.count()`` — an eager
    action, the price of safe-by-default sizing; callers that know their
    scale pass ``n_buckets`` explicitly and stay lazy.  Either way a task
    raises (rather than OOMs) if hash skew or a stale caller hint lands
    more than ``4 * rows_per_bucket`` rows in one bucket.

    Output: input columns + ``pack_id`` (string, ``<bucket>_<k>``).
    """
    import math

    import pandas as pd

    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    if rows_per_bucket <= 0:
        raise ValueError(f"rows_per_bucket must be positive, got {rows_per_bucket}")
    if n_buckets is None:
        n_buckets = max(1, math.ceil(chunks.count() / rows_per_bucket))
    max_bucket_rows = 4 * rows_per_bucket

    bucket = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets))
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in chunks.schema.fields
    ) + ", pack_id string"

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_bucket_rows:
            raise ValueError(
                f"pack_sequences bucket holds {len(pdf)} rows "
                f"(> {max_bucket_rows}): raise n_buckets (or rows_per_bucket) "
                "— one bucket must fit in one task's memory"
            )
        pdf = pdf.sort_values(
            [tokens_col, id_col, chunk_col], ascending=[False, True, True]
        ).reset_index(drop=True)
        too_big = pdf[pdf[tokens_col] > token_budget]
        if len(too_big):
            raise ValueError(
                f"chunk exceeds token_budget={token_budget}: "
                f"{too_big.iloc[0][id_col]}/{too_big.iloc[0][chunk_col]} "
                f"({too_big.iloc[0][tokens_col]} tokens)"
            )
        b = int(pdf["_bucket"].iloc[0])
        packs = _ffd_assign([int(n) for n in pdf[tokens_col]], token_budget)
        pdf = pdf.drop(columns=["_bucket"])
        pdf["pack_id"] = [f"{b}_{i}" for i in packs]
        return pdf

    return (
        chunks.withColumn("_bucket", bucket)
        .groupBy("_bucket")
        .applyInPandas(_pack, schema=out_schema)
    )


def curate_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.7,
    langs: list[str] | None = None,
    near_dup_threshold: float | None = 0.7,
    repetition_gate: bool = False,
    dedup_paragraphs: bool = False,
    dedup_substrings: int | None = None,
    perplexity_lm=None,
    max_perplexity: float | None = None,
    embeddings: DataFrame | None = None,
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    semantic_threshold: float = 0.9,
    semantic_k: int = 16,
    semantic_n_probe: int = 1,
    quality_model: DataFrame | None = None,
    quality_model_threshold: float = 0.5,
    known_fingerprints: DataFrame | None = None,
    known_bloom=None,
    lang_model: DataFrame | None = None,
    anchor_profile: DataFrame | None = None,
    url_col: str | None = None,
    anchor_broadcast: bool | None = None,
) -> DataFrame:
    """Doc-level curation ladder: (optional) corpus paragraph dedup ->
    quality gate -> (optional) model quality gate -> (optional) language
    gate -> (optional) repetition gate -> (optional) LM perplexity gate ->
    (optional) known-content exclusion -> exact dedup -> MinHash-LSH
    near-dup removal -> (optional) SemDedup semantic near-dup removal.

    ``lang_model`` (a weights table from
    ``classifier.train_multiclass_hashed``) upgrades the language gate
    to the TRAINED fastText-shape decision (``lang_id_trained``) — same
    cost slot (map-only, zero shuffle), but the gate knows whatever
    languages the labeled sample taught it instead of the hand-listed
    marker table; requires ``langs`` (the codes to keep).

    ``known_fingerprints`` (a frame with a ``fingerprint`` column — e.g.
    ``text.fingerprint`` over the landed lake corpus) drops documents
    whose CONTENT already exists in the lake, the incremental-run form:
    tonight's crawl slice is curated against everything previously
    landed without re-deduping the whole lake.  ``known_bloom`` (an
    ``operators.bloom.LocalBloom`` built nightly over the same index)
    accelerates the exclusion at lake scale — the definitely-new
    majority skips the anti-join entirely (map-side bitmap test) and
    only the 'maybe' fraction pays the exact join; output is identical
    with or without the Bloom (false positives are verified away, never
    dropped — ``bloom.anti_join_known``'s contract, and the composition
    parity is test-pinned).  The stage sits after the map-only gates
    (rejected docs never pay the fingerprint hash or the join) and
    before the dedup shuffles (the batch twin of the position
    ``streaming.training.stream_training_chunks`` uses).

    ``anchor_profile`` (a ``crawl_graph.anchor_profile`` table) + ``url_col``
    feed the web's OWN description of each document's domain into the
    TRAINED gates: the profile joins on by registered domain
    (``with_anchor_terms``, the same three-way size-gated join strategy
    via ``anchor_broadcast``) and the trained quality/language models
    score ``text + anchor terms`` instead of the text alone — anchor
    text is the one quality signal the page cannot write for itself, so
    a borderline page on a well-described domain survives where its
    prose alone would not (contract test-pinned: the anchor evidence
    flips a planted borderline doc).  Train the model on the SAME
    composition (``with_anchor_terms`` + concat) so scoring sees the
    feature distribution it learned.  Scope: the HEURISTIC gates
    (quality_score, the marker lang_id, repetition) keep judging the
    page's own prose — anchor terms are a label-like side channel, not
    prose, and would skew prose-shape statistics.  Docs on unlinked
    domains (or with unparseable URLs) score on their text alone
    (``concat_ws`` skips the NULL), never dropped for missing anchors.

    ``quality_model`` (a weights table from
    ``classifier.train_quality_classifier``) inserts the TRAINED quality
    gate right after the heuristic one — same slot in the cost ordering
    because it is the same plan shape: a map-only codegen'd scoring
    projection + filter, ahead of every shuffle.  The two gates compose
    (DCLM runs its fastText filter on top of C4-style heuristics); pass
    ``min_quality=0.0`` to run the model alone.

    ``dedup_paragraphs`` runs the CCNet/Dolma sub-document stage FIRST:
    corpus-wide boilerplate paragraphs are stripped before quality scoring
    (a nav-bar-heavy page should be judged on its real prose) and before
    any fingerprint/MinHash signature is computed over the text.
    ``dedup_substrings`` (a window size, e.g. the paper's 50) inserts
    ExactSubstr-style duplicated-PASSAGE removal
    (``dedup.substring_dup_spans`` + ``apply_substring_dedup``) right
    after it — the rung between paragraph-keyed and whole-document
    dedup, catching the shared passage embedded mid-prose that neither
    neighbor stage can see.  Both sub-document stages precede scoring
    for the same reason.

    Ordering matters for cost: the cheap codegen'd quality/language filters
    shrink the corpus BEFORE the shuffle-bearing dedup stages, and exact
    dedup (one hash aggregate) runs before MinHash (signatures + banded
    self-join) so the expensive stage sees only distinct texts.
    ``near_dup_threshold=None`` skips the MinHash stage entirely (the
    reduced ladder for corpora where exact + sub-document dedup suffice,
    or where near-dup runs separately at its own cadence).
    ``repetition_gate=True`` inserts the Gopher-style repetition filter
    (``text.repetition_filter``, table-A1 thresholds) after the language
    gate — still map-only, still ahead of every shuffle.

    ``perplexity_lm`` + ``max_perplexity`` insert the CCNet-style LM
    quality gate (``lm.perplexity``, a fitted :class:`~..lm.BigramLM`):
    documents whose bigram perplexity exceeds the cutoff are dropped via
    a left-semi join on the passing ids.  That semi-join is the one
    id-keyed corpus shuffle of the ladder, which is why it sits AFTER the
    map-only gates (scores fewer docs) and BEFORE the dedup shuffles
    (they see the already-filtered corpus).

    ``embeddings`` (rows keyed by ``emb_id_col`` equal to the document
    id) appends the SemDedup stage (similarity.semdedup_pairs) LAST:
    paraphrase-level duplicates share no token n-grams, so the lexical
    stages cannot see them, and running it after them means the
    cluster-bounded pair scan only covers lexical survivors.  Documents
    with no embedding row pass through unexamined (documented: semantic
    dedup is best-effort over the embedded subset).
    """
    from .dedup import apply_dedup, exact_dedup_keep_min, minhash_dedup_pairs
    from .dedup import paragraph_dedup as _paragraph_dedup
    from .text import lang_id, quality_score, repetition_filter

    if dedup_paragraphs:
        docs = _paragraph_dedup(docs, text_col, id_col)
    if dedup_substrings is not None:
        from .dedup import apply_substring_dedup, substring_dup_spans

        spans = substring_dup_spans(
            docs, window_tokens=dedup_substrings, text_col=text_col, id_col=id_col
        )
        docs = apply_substring_dedup(docs, spans, text_col, id_col)
    kept = quality_score(docs, text_col).filter(
        F.col("quality_score") >= F.lit(min_quality)
    ).drop("quality_score")
    # the anchor join sits AFTER the heuristic gate (the shrunken corpus
    # pays the join) and BEFORE the trained gates (its whole point);
    # the per-domain profile table is vocabulary x domain bounded, so
    # AQE's size gate usually broadcasts it (anchor_broadcast overrides)
    gate_text = text_col
    if anchor_profile is not None:
        if url_col is None:
            raise ValueError(
                "anchor_profile requires url_col — anchor terms join by "
                "the document's registered domain"
            )
        if quality_model is None and lang_model is None:
            raise ValueError(
                "anchor_profile without a trained gate (quality_model or "
                "lang_model+langs) gates nothing — only the trained "
                "classifiers score text + anchor terms; the heuristic "
                "gates stay on the page's own prose"
            )
        from .crawl_graph import with_anchor_terms

        kept = with_anchor_terms(
            kept, anchor_profile, url_col,
            out_col="_kc_anchor", broadcast=anchor_broadcast,
        )
        kept = kept.withColumn(
            "_kc_gate_text",
            F.concat_ws(" ", F.col(text_col), F.col("_kc_anchor")),
        )
        gate_text = "_kc_gate_text"
    elif anchor_broadcast is not None:
        raise ValueError(
            "anchor_broadcast without anchor_profile gates nothing — pass "
            "the profile table too"
        )
    if quality_model is not None:
        from .classifier import quality_model_gate

        kept = quality_model_gate(kept, quality_model, gate_text, quality_model_threshold)
    if langs is not None:
        # lang_model switches the language gate from the marker-list
        # heuristic to the trained K-class softmax
        # (classifier.lang_id_trained) — same plan shape (map-only
        # scoring projection + filter, zero shuffle), but the decision
        # knows whatever languages the labeled sample taught it
        if lang_model is not None:
            from .classifier import lang_id_trained

            kept = lang_id_trained(kept, lang_model, gate_text)
        else:
            # the marker heuristic stays on the page's own prose — see
            # the anchor_profile scope note in the docstring
            kept = lang_id(kept, text_col)
        kept = kept.filter(F.col("lang_pred").isin(langs)).drop("lang_pred")
    elif lang_model is not None:
        raise ValueError(
            "lang_model without langs gates nothing — pass the language "
            "codes to keep"
        )
    if anchor_profile is not None:
        # the trained gates were the last consumers; everything from the
        # repetition gate on judges / fingerprints the original text
        kept = kept.drop("_kc_anchor", "_kc_gate_text")
    if repetition_gate:
        kept = repetition_filter(kept, text_col)
    if perplexity_lm is not None and max_perplexity is not None:
        from .lm import perplexity as _ppl

        passing = (
            _ppl(kept, perplexity_lm, text_col, id_col)
            .filter(F.col("perplexity") <= F.lit(max_perplexity))
            .select(id_col)
        )
        kept = kept.join(passing, id_col, "left_semi")
    if known_fingerprints is not None:
        from .bloom import anti_join_known
        from .text import fingerprint as _fingerprint

        kept = anti_join_known(
            _fingerprint(kept, text_col, "_kc_fp"),
            known_fingerprints.select(F.col("fingerprint").alias("_kc_fp")),
            "_kc_fp",
            bloom=known_bloom,
        ).drop("_kc_fp")
    kept = exact_dedup_keep_min(kept, text_col, id_col)
    # near_dup_threshold=None skips the MinHash stage — the reduced ladder
    # for corpora where exact + sub-document dedup suffice (or where the
    # near-dup pass runs separately at its own cadence)
    if near_dup_threshold is not None:
        pairs = minhash_dedup_pairs(
            kept, text_col, id_col, threshold=near_dup_threshold
        )
        kept = apply_dedup(kept, pairs, id_col)
    if embeddings is not None:
        from .similarity import semdedup_pairs

        surviving_vecs = embeddings.select(
            F.col(emb_id_col).alias(id_col), F.col(vec_col).alias("_vec")
        ).join(kept.select(id_col), id_col, "left_semi")
        sem_pairs = semdedup_pairs(
            surviving_vecs, semantic_threshold, semantic_k,
            id_col=id_col, vec_col="_vec", n_probe=semantic_n_probe,
        )
        kept = apply_dedup(kept, sem_pairs, id_col)
    return kept


def prepare_training_set(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.7,
    langs: list[str] | None = None,
    near_dup_threshold: float | None = 0.7,
    weights: dict[str, float] | None = None,
    salt: str = "",
    chunk_tokens: int = 256,
    overlap_tokens: int = 32,
    benchmark: DataFrame | None = None,
    decontam_ngram: int = 8,
    repetition_gate: bool = False,
    scrub: bool = False,
    dedup_paragraphs: bool = False,
    dedup_substrings: int | None = None,
    perplexity_lm=None,
    max_perplexity: float | None = None,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.9,
    semantic_k: int = 16,
    semantic_n_probe: int = 1,
    tokenizer_merges: list | None = None,
    token_budgets: int | dict | None = None,
    budget_strata: list[str] | None = None,
    budget_salt: str = "",
    benchmark_embeddings: DataFrame | None = None,
    semantic_decontam_threshold: float = 0.9,
    quality_model: DataFrame | None = None,
    quality_model_threshold: float = 0.5,
    known_fingerprints: DataFrame | None = None,
    known_bloom=None,
    url_col: str | None = None,
    max_per_domain: int | None = None,
    domain_ranks: DataFrame | None = None,
    min_domain_rank: float | None = None,
    min_domain_rank_quantile: float | None = None,
    lang_model: DataFrame | None = None,
    anchor_profile: DataFrame | None = None,
    anchor_broadcast: bool | None = None,
) -> DataFrame:
    """The whole training-data pipeline as one composition:
    (optional) PII scrub -> curate (quality/language/repetition/
    LM-perplexity/exact-dup/near-dup) -> decontaminate -> chunk -> split.
    ``scrub`` masks emails/IPv4s/phones BEFORE any token-derived stage so
    quality scores, fingerprints, and chunks all see the masked text (and
    the streaming twin orders identically).  ``dedup_paragraphs`` /
    ``dedup_substrings`` forward the sub-document dedup rungs into the
    curation ladder (boilerplate paragraphs and embedded duplicated
    passages vanish before scoring, fingerprinting, or any chunk exists).  ``perplexity_lm`` +
    ``max_perplexity`` enable the CCNet-style LM quality gate inside the
    curation ladder (see ``curate_documents``).  ``quality_model`` (+
    ``quality_model_threshold``) forwards a trained weights table from
    ``classifier.train_quality_classifier`` into the same ladder — the
    DCLM-style model-based quality filter, applied as a map-only scoring
    projection right after the heuristic gate.

    Output: (id_col, chunk_id, n_chunk_tokens, chunk_text, split).

    ``embeddings`` (+ ``semantic_threshold``/``semantic_k``) forwards the
    SemDedup stage into the curation ladder, so paraphrase-level
    duplicates are also removed BEFORE the split — the same
    no-train/test-leakage argument as the lexical dedup stages.

    ``tokenizer_merges`` (a learned ``bpe.learn_bpe`` merge table)
    switches chunking to REAL-subword budgets (``bpe.
    chunk_documents_bpe``) — chunk/overlap sizes then mean model tokens,
    not whitespace words.

    ``benchmark_embeddings`` (r11) adds SEMANTIC decontamination next to
    the verbatim n-gram pass: a paraphrased eval item shares no 8-token
    run with the benchmark, so ``benchmark`` alone cannot see it, but its
    embedding cosine can — documents within
    ``semantic_decontam_threshold`` of ANY benchmark vector are dropped
    (``similarity.semantic_contamination``: the small benchmark matrix
    broadcasts, the corpus streams through one Arrow-batched matmul,
    map-only).  Requires ``embeddings`` (corpus vectors, canonical
    (vec_id, embedding) shape with vec_id = doc id; the benchmark frame
    carries an ``embedding`` column); docs without an embedding row pass
    unexamined — the same best-effort caveat as the SemDedup stage.
    Runs with the n-gram pass: after dedup, before any chunk exists.

    ``token_budgets`` (r11) inserts the mix-composition stage: the
    CURATED, DECONTAMINATED corpus is sampled down to a whitespace-token
    budget — an int applied per stratum of ``budget_strata`` (default
    ``["source"]``; ``[]`` = one corpus-wide budget), or a per-stratum
    dict, the "20B code + 5B books" form (:func:`sample_token_budget`;
    dict keys must cover the strata present AFTER curation).  The stage sits after decontam and
    before chunking, which is the semantics real mixes want: a document
    the gates would drop never consumes budget (its tokens go to the
    next document in hash order instead), and the chunk stage only pays
    for sampled documents.  ``budget_salt`` is decoupled from the split
    ``salt`` so re-salting the split never changes WHICH documents are
    in the mix, and vice versa.

    ``known_fingerprints`` (+ optional ``known_bloom``) forwards the
    known-content exclusion stage into the curation ladder — the
    incremental-run form where tonight's slice is curated against the
    already-landed lake (see :func:`curate_documents`); the streaming
    twin takes the identical pair of knobs, so batch and stream drop the
    same already-known documents.

    ``url_col`` (r12) prepends the crawl front door: canonical-URL dedup
    (``urls.url_dedup``) and, with ``max_per_domain``, the
    RefinedWeb-style per-domain cap (``urls.domain_cap``) — BEFORE the
    PII scrub and every content stage, because URL work costs ~nothing
    next to content work and every page it drops never pays scrubbing,
    scoring, fingerprinting, or a shuffle.  The URL column rides through
    the whole ladder only as far as curation needs it; output schema is
    unchanged (chunks never carry it).

    ``domain_ranks`` + ``min_domain_rank`` (r13) add the web-graph prior
    to the same front door: documents whose registered domain ranks
    BELOW the threshold in a ``crawl_graph.pagerank`` table are dropped
    before any content stage (link-farm domains never pay scrubbing or
    scoring).  The rank join is ``with_domain_rank`` with its size-gated
    strategy (AQE broadcasts a small table, shuffles a crawl-scale one).
    Docs whose domain is absent from the table — or whose URL does not
    parse — PASS unexamined: unknown is not low-rank, and the content
    gates own them (the same convention as unparsable URLs in
    ``url_dedup``/``domain_cap``).

    ``anchor_profile`` (r16) forwards the anchor-text feature into the
    curation ladder's TRAINED gates (see :func:`curate_documents`):
    the domain's top anchor terms join on by registered domain and the
    trained quality / language models score text + anchors.  Requires
    ``url_col``; ``anchor_broadcast`` picks the join strategy.

    ``min_domain_rank`` thresholds a RAW rank value — but ranks sum to
    1, so a fixed raw threshold means "N× the uniform floor" only at a
    fixed graph size: as the nightly graph grows, every rank shrinks
    ~1/N and the same number silently tightens the gate.
    ``min_domain_rank_quantile`` (r14) is the scale-stable form: drop
    documents whose domain sits in the bottom ``q`` fraction of the
    RANK TABLE (e.g. 0.05 = the worst 5% of ranked domains), resolved
    to a concrete threshold once per run via a single-pass quantile
    sketch over the per-domain table — the gate's meaning survives
    graph doubling (test-pinned).  Exactly one of the two forms may be
    given.

    Caching note (r17, scoped r18): with ``benchmark`` /
    ``benchmark_embeddings`` set, the curated intermediate is persisted
    internally (the decontamination anti-join consumes it twice).  The
    persist is SCOPED (``operators/cachescope``): the next invocation,
    whatever its arguments, unpersists this one's barriers, so repeated
    calls in one session recompute honestly — no clearCache() bookkeeping
    needed, the same contract as ``dedup.minhash_pairs_between``.

    Dedup runs BEFORE split assignment — the other order leaks near-dups
    across train/test.  When ``benchmark`` is given, documents sharing a
    verbatim ``decontam_ngram``-token run with it are removed AFTER dedup
    (the shrunken corpus pays the gram explode) and BEFORE chunking (no
    chunk of a contaminated doc ever exists to leak into any split).  The
    split is assigned on the DOCUMENT id after chunking, so every chunk of
    a document lands in the same split and no doc-to-chunk join is needed:
    content-hash assignment is a pure projection, recomputing it on the
    chunk rows is identical to joining the doc-level assignment (and free).
    """
    # every call, with or without a benchmark, batch or streaming, frees
    # the previous call's barriers: a call that persists nothing must not
    # plan-match its identical curation ladder into a stale cache
    cachescope.begin("prepare_training_set")
    if max_per_domain is not None and url_col is None:
        raise ValueError("max_per_domain requires url_col (no domain without a URL)")
    if min_domain_rank is not None and min_domain_rank_quantile is not None:
        raise ValueError(
            "min_domain_rank and min_domain_rank_quantile are two forms of "
            "the same gate — pass exactly one"
        )
    if min_domain_rank_quantile is not None and not (
        0.0 <= min_domain_rank_quantile < 1.0
    ):
        raise ValueError(
            "min_domain_rank_quantile must be in [0, 1), got "
            f"{min_domain_rank_quantile}"
        )
    _rank_gate = min_domain_rank if min_domain_rank is not None else (
        min_domain_rank_quantile
    )
    if _rank_gate is not None and (domain_ranks is None or url_col is None):
        raise ValueError(
            "min_domain_rank / min_domain_rank_quantile requires domain_ranks "
            "(a pagerank table) and url_col"
        )
    if domain_ranks is not None and _rank_gate is None:
        raise ValueError(
            "domain_ranks without min_domain_rank would silently gate nothing "
            "— pass the threshold too"
        )
    if anchor_profile is not None and url_col is None:
        raise ValueError(
            "anchor_profile requires url_col — anchor terms join by the "
            "document's registered domain"
        )
    if url_col is not None:
        from .urls import domain_cap, url_dedup

        docs = url_dedup(docs, url_col, id_col)
        if max_per_domain is not None:
            docs = domain_cap(docs, max_per_domain, url_col, id_col)
        if _rank_gate is not None:
            from .crawl_graph import with_domain_rank

            threshold = min_domain_rank
            if min_domain_rank_quantile is not None:
                # resolve the quantile ONCE against the per-domain rank
                # table (graph-sized, never doc-sized): a single-pass
                # Greenwald-Khanna sketch, 1e-3 relative rank error —
                # a curation knob, not an exact cut, and stable as the
                # graph grows because the threshold moves with the
                # distribution instead of sitting on a raw value
                qs = domain_ranks.approxQuantile(
                    "rank", [min_domain_rank_quantile], 1e-3
                )
                # approxQuantile returns [] on an empty / all-null rank
                # table — surface a curation-level error instead of a
                # bare IndexError (review-caught)
                if not qs:
                    raise ValueError(
                        "min_domain_rank_quantile: domain_ranks has no "
                        "non-null rank values — cannot resolve a quantile "
                        "threshold (empty or unranked graph?)"
                    )
                threshold = qs[0]
            docs = with_domain_rank(docs, domain_ranks, url_col, "_dom_rank")
            docs = docs.filter(
                F.col("_dom_rank").isNull()
                | (F.col("_dom_rank") >= threshold)
            ).drop("_dom_rank")
    if scrub:
        from .text import scrub_pii

        docs = scrub_pii(docs, text_col)
    curated = curate_documents(
        docs, text_col, id_col, min_quality, langs, near_dup_threshold,
        repetition_gate=repetition_gate,
        dedup_paragraphs=dedup_paragraphs, dedup_substrings=dedup_substrings,
        perplexity_lm=perplexity_lm, max_perplexity=max_perplexity,
        embeddings=embeddings,
        semantic_threshold=semantic_threshold, semantic_k=semantic_k,
        semantic_n_probe=semantic_n_probe,
        quality_model=quality_model,
        quality_model_threshold=quality_model_threshold,
        known_fingerprints=known_fingerprints,
        known_bloom=known_bloom,
        lang_model=lang_model,
        anchor_profile=anchor_profile,
        url_col=url_col,
        anchor_broadcast=anchor_broadcast,
    )
    if benchmark is not None or benchmark_embeddings is not None:
        # r17 (guide §1.2/§5): both decontamination forms consume
        # `curated` TWICE — once to compute the flagged ids, once as the
        # anti-join's streaming side.  `curated` is a PLAN (the whole
        # curation ladder), not a table, so without a materialization
        # barrier Spark instantiates the subtree twice and the full
        # ladder (paragraph/substring dedup shuffles, gates, exact dedup)
        # runs twice per action.  Persist it once: the flag side (the
        # anti-join's broadcast build) materializes the cache, the stream
        # side then reads it.  Same rationale and lifetime convention as
        # the persisted minhash intermediates (dedup.py) — at warehouse
        # scale this is exactly the intermediate you'd land to storage
        # between curation and decontamination.  SCOPED lifetime (r18,
        # operators/cachescope): the next prepare_training_set call
        # unpersists this one's barriers, so repeated invocations in one
        # session recompute honestly.
        if not curated.isStreaming:
            curated = cachescope.register(
                "prepare_training_set", curated.persist()
            )
    if benchmark is not None:
        curated = remove_contaminated(
            curated, benchmark, text_col, id_col, n=decontam_ngram
        )
        if benchmark_embeddings is not None and not curated.isStreaming:
            # both decontamination forms: the semantic pass consumes the
            # n-gram pass's OUTPUT twice (survivor semi-join + final
            # anti-join) — same double-instantiation one level up, so
            # barrier that plan too (review-caught, r17)
            curated = cachescope.register(
                "prepare_training_set", curated.persist()
            )
    if benchmark_embeddings is not None:
        if embeddings is None:
            raise ValueError(
                "benchmark_embeddings requires embeddings= (corpus vectors "
                "keyed by the doc id) — there is nothing to compare against"
            )
        from .similarity import semantic_contamination

        surviving_vecs = embeddings.select(
            F.col("vec_id").alias(id_col), F.col("embedding").alias("_vec")
        ).join(curated.select(id_col), id_col, "left_semi")
        contaminated = (
            semantic_contamination(
                surviving_vecs,
                benchmark_embeddings.select(F.col("embedding").alias("_vec")),
                semantic_decontam_threshold,
                id_col=id_col,
                vec_col="_vec",
            )
            .filter(F.col("is_contaminated"))
            .select(id_col)
        )
        curated = curated.join(contaminated, id_col, "left_anti")
    if token_budgets is not None:
        strata = budget_strata if budget_strata is not None else ["source"]
        if not strata:  # [] = one corpus-wide budget (int form only)
            if isinstance(token_budgets, dict):
                raise ValueError(
                    "budget_strata=[] takes a single int budget, not a dict"
                )
            curated = sample_token_budget(
                curated.withColumn("_stratum", F.lit("corpus")),
                ["_stratum"], token_budgets,
                key_col=id_col, text_col=text_col, salt=budget_salt,
            ).drop("_stratum")
        else:
            curated = sample_token_budget(
                curated, strata, token_budgets,
                key_col=id_col, text_col=text_col, salt=budget_salt,
            )
    if tokenizer_merges is not None:
        from .bpe import chunk_documents_bpe

        chunks = chunk_documents_bpe(
            curated, tokenizer_merges, text_col, id_col,
            chunk_tokens, overlap_tokens,
        )
    else:
        chunks = chunk_documents(curated, text_col, id_col, chunk_tokens, overlap_tokens)
    return assign_split(chunks, id_col, weights, salt)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 256,
    overlap_tokens: int = 32,
) -> DataFrame:
    """Split documents into overlapping token windows.

    Output: (``id_col``, chunk_id, n_chunk_tokens, chunk_text) — chunk k of
    a document starts at token ``k * (chunk_tokens - overlap_tokens)`` and
    carries up to ``chunk_tokens`` whitespace tokens; consecutive chunks
    share exactly ``overlap_tokens`` tokens (the final chunk may be short).
    Dropping the first ``overlap_tokens`` tokens of every chunk_id > 0 and
    concatenating reconstructs the document's token stream exactly — the
    property the tests assert.

    Plan shape: tokenize (higher-order filter/split) -> start-index
    ``sequence`` -> ``posexplode`` -> ``slice``/``array_join``.  Map-only:
    no shuffle, no Python, output rows ~ n_tokens / stride per doc.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            f"overlap_tokens must be in [0, chunk_tokens), got {overlap_tokens}"
        )
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
    return chunk_token_windows(
        df.select(F.col(id_col), toks.alias("_toks")),
        id_col, chunk_tokens, overlap_tokens, separator=" ",
    )


def chunk_token_windows(
    tokenized: DataFrame,
    id_col: str,
    chunk_tokens: int,
    overlap_tokens: int,
    separator: str,
    tokens_col: str = "_toks",
) -> DataFrame:
    """The shared window ladder behind every chunker (whitespace words
    here, learned subwords in ``bpe.chunk_documents_bpe``): start-index
    ``sequence`` -> ``posexplode`` -> ``slice`` -> ``array_join`` over a
    pre-tokenized (``id_col``, token array) frame — one implementation so
    the boundary semantics can never diverge between token sources."""
    stride = chunk_tokens - overlap_tokens
    n = F.size(F.col(tokens_col))
    # starts while start < n - overlap (every chunk contributes >= 1 new
    # token); empty docs produce zero chunks (sequence would otherwise
    # count DOWN when its stop < start)
    starts = F.when(
        n > 0,
        F.sequence(
            F.lit(0), F.greatest(n - F.lit(overlap_tokens + 1), F.lit(0)), F.lit(stride)
        ),
    ).otherwise(F.lit(None).cast("array<int>"))
    chunk = F.slice(F.col(tokens_col), F.col("_start") + 1, chunk_tokens)
    return (
        tokenized
        .select(F.col(id_col), F.col(tokens_col), F.posexplode(starts).alias("chunk_id", "_start"))
        .select(
            F.col(id_col),
            F.col("chunk_id"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.array_join(chunk, separator).alias("chunk_text"),
        )
    )


def assign_time_folds(
    df: DataFrame,
    time_col: str,
    n_folds: int = 5,
    out_col: str = "fold",
) -> DataFrame:
    """Contiguous time-block fold assignment for time-series cross
    validation: fold k holds the rows between the k-th and (k+1)-th
    time quantiles, so folds are temporally ordered, near-equal-sized
    blocks — the prerequisite for walk-forward evaluation (a hash/random
    split would leak future information into every training set).

    The boundaries come from ONE ``approx_percentile`` aggregate
    (mergeable sketch) collected driver-side; assignment is then a pure
    map-only projection against the broadcast boundary literals — no
    sort, no ntile window (a global ntile would single-partition the
    table).  Deterministic given the data."""
    if n_folds < 2:
        raise ValueError("n_folds must be >= 2")
    probs = [i / n_folds for i in range(1, n_folds)]
    bounds = df.select(
        F.percentile_approx(F.col(time_col).cast("double"), probs).alias("b")
    ).first()["b"]
    expr = F.lit(n_folds - 1)
    for i in reversed(range(n_folds - 1)):
        expr = F.when(
            F.col(time_col).cast("double") <= F.lit(bounds[i]), F.lit(i)
        ).otherwise(expr)
    return df.withColumn(out_col, expr.cast("int"))


def walk_forward_split(
    df: DataFrame,
    fold: int,
    time_col: str,
    n_folds: int = 5,
    embargo: str | None = None,
    fold_col: str = "fold",
) -> tuple[DataFrame, DataFrame]:
    """Walk-forward train/test for one fold: test = fold ``fold``'s time
    block, train = ALL data strictly before it, minus an optional
    ``embargo`` interval (e.g. ``'2 days'``) immediately preceding the
    test block — the Prado-style guard that keeps overlapping-horizon
    features (returns computed over windows that straddle the boundary)
    from leaking label information across the split.

    Fold 0 has no training past — callers iterate folds 1..n_folds-1.
    Both frames are filters over the assigned table: map-only, pushdown-
    friendly, no shuffle."""
    if not 1 <= fold < n_folds:
        raise ValueError(f"fold must be in [1, {n_folds - 1}], got {fold}")
    assigned = (
        df if fold_col in df.columns else assign_time_folds(df, time_col, n_folds, fold_col)
    )
    test = assigned.filter(F.col(fold_col) == fold)
    test_start = test.agg(F.min(time_col)).first()[0]
    if test_start is None:
        return assigned.limit(0), test
    cutoff = F.lit(test_start)
    if embargo is not None:
        cutoff = cutoff - F.expr(f"INTERVAL {embargo}")
    train = assigned.filter(
        (F.col(fold_col) < fold) & (F.col(time_col) < cutoff)
    )
    return train, test
