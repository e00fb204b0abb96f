"""Pool / top-k / agreement selection algebra (co- & tri-training core).

Reference semantics re-expressed data-parallel:

  W2  pool partition   co_training.py:84-89   sequential chunks of a seeded
                                              shuffle -> pool_id column; the
                                              k-iteration driver loop becomes
                                              ONE Spark job because pools are
                                              disjoint and selection is
                                              independent per pool.
  W1  top-n per pool   co_training.py:102-103 row_number window, tie-broken
                                              by shuffled position (Python's
                                              sorted is stable on the
                                              shuffled order).
  J1  agreement join   co_training.py:234-250 inner equi-join on sent_id.
  C4  agreement gate   co_training.py:263-273 cosine(bagA, bagB) > thr.
  C1  teachable        tri_train.py:44-60     cos > thr AND min(t1,t2) > tcfd
                                              AND student < scfd.
  C2  arbitration      tri_train.py:213-219   t1==t2 -> t1; else higher-cfd.

Scale notes: pool assignment is one narrow projection after a seeded
orderBy(rand) (a single range-shuffle); top-n is a window over pool_id —
pools are uniform by construction so no skew; the agreement join keys are
unique per side (top-n output), so AQE's broadcast conversion handles the
small-side case automatically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.simfn import cosine_tags, rename_tags_col


def shuffled_with_position(df: DataFrame, seed: int = 42, id_col: str = "sent_id",
                           key_cols: list[str] | None = None) -> DataFrame:
    """R3: seeded uniform shuffle, carrying the post-shuffle position.

    The position is the tie-breaker for exact top-n parity (Python's sorted
    is stable on the shuffled list order, co_training.py:102).

    Scalable distributed zipWithIndex — NOT a global row_number window
    (which moves every row to ONE partition; a non-starter on a 100TB
    corpus). Permutation key = xxhash64(key_cols, seed): fully
    deterministic per row (unlike rand(seed), which depends on physical
    row order). key_cols must be row-unique for that claim to hold —
    sent_id alone is only unique per url, so the default automatically
    prefixes url (and doc_id) when present; rows that tied on sent_id
    across pages would otherwise get positions that depend on physical
    row order, breaking the tri-loop's checkpoint/resume pool identity.
    Range-repartition by key sorts globally in parallel; a per-partition
    row_number plus a broadcast partition-offset map (one tiny count
    pass) yields contiguous global positions.
    """
    if key_cols is None:
        key_cols = [c for c in ("url", "doc_id") if c in df.columns] + [id_col]
    key = F.xxhash64(*[F.col(c).cast("string") for c in key_cols], F.lit(seed))
    n = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    part = (
        df.withColumn("__key", key)
        .repartitionByRange(n, "__key")
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # both passes below read it once
    )
    counts = part.groupBy("__pid").count().collect()
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["__pid"]):
        offsets[int(r["__pid"])] = acc
        acc += int(r["count"])
    off_map = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    ) if offsets else F.create_map()
    w = Window.partitionBy("__pid").orderBy("__key", *key_cols)
    return (
        part.withColumn(
            "pos",
            (F.coalesce(off_map[F.col("__pid")], F.lit(0))
             + F.row_number().over(w)).cast("int"),
        )
        .drop("__key", "__pid")
    )


def assign_pools(df: DataFrame, u: int, k: int | None = None,
                 pos_col: str = "pos") -> DataFrame:
    """W2: pools of size u carved off the shuffled corpus; keep first k pools.

    Reference consumes U from the back in chunks of u, k times
    (co_training.py:84-89). Chunk identity = floor((pos-1)/u); consuming
    from the back vs front only permutes pool ids, and selection is
    per-pool, so the union of selected rows is identical.
    """
    out = df.withColumn("pool_id", F.floor((F.col(pos_col) - 1) / u))
    if k is not None:
        out = out.filter(F.col("pool_id") < k)
    return out


def top_n_per_pool(df: DataFrame, top_n: int,
                   score_col: str = "avg_cfd",
                   pool_col: str = "pool_id",
                   pos_col: str = "pos") -> DataFrame:
    """W1: n most-confident rows per pool, deterministic tie-break on pos."""
    w = Window.partitionBy(pool_col).orderBy(F.col(score_col).desc(), F.col(pos_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_n)
        .drop("__rn")
    )


def agreement_join(
    df_a: DataFrame,
    df_b: DataFrame,
    cos_threshold: float,
    key: str = "sent_id",
    tags_col: str = "tags",
    rename_b: bool = True,
) -> DataFrame:
    """J1 + P2 + F5 + F6 + C4: the co-training agreement stage.

    Inner-join the two views' top-n selections on sentence id, project away
    'O' tags, rename view-B's tag vocabulary (OntoNotes -> ISW,
    co_training.py:262), then keep pairs whose bag-of-tags cosine exceeds
    the threshold. Columns from B are suffixed _b.

    Both inputs are tiny relative to the corpus (k*top_n rows) — Catalyst/
    AQE broadcasts the smaller side; no repartition needed.
    """
    b = df_b.select(
        F.col(key),
        *[F.col(c).alias(f"{c}_b") for c in df_b.columns if c != key],
    )
    joined = df_a.join(b, key, "inner")
    a_bag = F.filter(F.col(tags_col), lambda t: t != F.lit("O"))
    b_bag = F.filter(F.col(f"{tags_col}_b"), lambda t: t != F.lit("O"))
    if rename_b:
        b_bag = F.transform(b_bag, lambda t: rename_tags_col(t))
    joined = joined.withColumn("cos_score", cosine_tags(a_bag, b_bag))
    return joined.filter(F.col("cos_score") > cos_threshold)


def teachable(
    df: DataFrame,
    cos_threshold: float,
    tcfd_threshold: float,
    scfd_threshold: float,
    t1_tags: str = "t1_tags", t2_tags: str = "t2_tags",
    t1_cfd: str = "t1_cfd", t2_cfd: str = "t2_cfd", s_cfd: str = "s_cfd",
) -> DataFrame:
    """C1: tri-training teachable gate (tri_train.py:44-60).

    NOTE: the reference computes teacher-pair cosine on the FULL label lists
    (is_teachable receives unfiltered labels, tri_train.py:51-54) — unlike
    the co-training agreement which drops 'O' first. We preserve that.
    """
    cos = cosine_tags(F.col(t1_tags), F.col(t2_tags))
    gate = (
        (cos > cos_threshold)
        & (F.least(F.col(t1_cfd), F.col(t2_cfd)) > tcfd_threshold)
        & (F.col(s_cfd) < scfd_threshold)
    )
    return df.withColumn("cos_score", cos).filter(gate)


def arbitrate_labels(
    t1_tags: Column, t1_cfd: Column, t2_tags: Column, t2_cfd: Column
) -> Column:
    """C2: t1==t2 -> t1; else the more confident teacher (tri_train.py:213-219).

    Tie (equal cfd) goes to t2, matching the reference's if/elif/else.
    """
    return (
        F.when(t1_tags == t2_tags, t1_tags)
        .when(t1_cfd > t2_cfd, t1_tags)
        .otherwise(t2_tags)
    )


def min_tokens(df: DataFrame, n: int, tokens_col: str = "tokens") -> DataFrame:
    """P4: sentence length floor (unlabel_generator.py:31,37 uses n=10)."""
    return df.filter(F.size(F.col(tokens_col)) > n)


def extend_labeled(labeled: DataFrame, ext: DataFrame,
                   keys: list[str] | None = None) -> DataFrame:
    """U1/U2 + J3: extend the labeled set, excluding rows already in it.

    Reference: `sentences + ext_sents` unions (run_ner.py:89-93, 303-324)
    with the `item not in ori_train` anti-scan (hack_single_tag.py:36,
    an O(n*m) list walk) -> unionByName after a left_anti join on `keys`
    (default: all common columns). The anti-join side is the extension
    (small); AQE broadcasts it when it fits.
    """
    if keys is None:
        keys = [c for c in ext.columns if c in set(labeled.columns)]
    fresh = ext.join(labeled.select(*keys).distinct(), keys, "left_anti")
    return labeled.unionByName(fresh, allowMissingColumns=False)


def single_tag_subset(df: DataFrame, tag: str, fix_len: int | None = None,
                      tags_col: str = "tags",
                      order_cols: list[str] | None = None) -> DataFrame:
    """P3: rows whose label list contains B-<tag>, first fix_len of them
    in corpus order (hack_single_tag.py:19,38).

    fix_len is honored exactly (0 -> empty, None -> all). The head is
    taken under a deterministic ordering (order_cols, default: whichever
    of url/doc_id/sent_id/pos exist) — a bare .limit() would return an
    arbitrary plan-dependent subset. Spark compiles sort+limit to
    TakeOrderedAndProject (per-partition top-N + merge), no global sort.
    """
    out = df.filter(F.array_contains(F.col(tags_col), f"B-{tag}"))
    if fix_len is None:
        return out
    if order_cols is None:
        order_cols = [c for c in ("url", "doc_id", "sent_id", "pos")
                      if c in out.columns] or list(out.columns)
    return out.orderBy(*order_cols).limit(fix_len)


def train_dev_test_split(df: DataFrame, seed: int = 1) -> list[DataFrame]:
    """R1: 70/20/10 split (utils.py:34-37; statistically equivalent —
    randomSplit, not row-identical to sklearn's shuffle). For exact row
    identity with the reference see train_dev_test_split_exact."""
    return df.randomSplit([0.7, 0.2, 0.1], seed=seed)


def reference_split_indices(n: int, seed: int = 1
                            ) -> tuple[list[int], list[int], list[int]]:
    """Replicates utils.py:34-37's TWO chained sklearn train_test_split
    calls (test_size=0.1 then 2/9, random_state=1 both times) using only
    numpy: sklearn's ShuffleSplit draws RandomState(seed).permutation(n),
    test = perm[:ceil(n*test_size)], train = the rest IN PERMUTED ORDER —
    and the second call permutes the first call's train list again.
    Returns (train, dev, test) as 0-based corpus positions, each in the
    exact order the reference's lists would carry.
    """
    import numpy as np

    def one(idx: list[int], test_size: float, rs: int):
        m = len(idx)
        n_test = int(np.ceil(m * test_size))
        perm = np.random.RandomState(rs).permutation(m)
        test = [idx[i] for i in perm[:n_test]]
        train = [idx[i] for i in perm[n_test:]]
        return train, test

    train1, test = one(list(range(n)), 0.1, seed)
    train, dev = one(train1, 2 / 9, seed)
    return train, dev, test


EXACT_SPLIT_MAX_ROWS = 1_000_000


def train_dev_test_split_exact(df: DataFrame, pos_col: str,
                               n_rows: int | None = None,
                               seed: int = 1) -> list[DataFrame]:
    """R1, row-identical form: membership AND within-split order match the
    reference's sklearn split (utils.py:34-37) exactly.

    pos_col = the 0-based corpus position of each row (the list index the
    reference's preprocessor would have given it). The assignment table
    is built driver-side and broadcast — the labeled corpus this mirrors
    is thesis-scale (~10^4 sentences; README.md:138 says 11,258); for
    corpus-scale splits use train_dev_test_split (randomSplit, fully
    distributed).

    Each returned DataFrame carries `split_pos`: the row's index within
    the reference's returned (permuted) list.

    Guarded: raises above EXACT_SPLIT_MAX_ROWS (1M) — the driver-side
    permutation list is O(n_rows), so the 100x misuse is impossible
    rather than just documented; corpus-scale callers belong on
    train_dev_test_split.
    """
    spark = df.sparkSession
    if n_rows is None:
        n_rows = df.count()
    if n_rows > EXACT_SPLIT_MAX_ROWS:
        raise ValueError(
            f"train_dev_test_split_exact builds a driver-side permutation of "
            f"all rows; n_rows={n_rows} exceeds the {EXACT_SPLIT_MAX_ROWS} "
            f"cap. Use train_dev_test_split (randomSplit, distributed) for "
            f"corpus-scale splits — exact sklearn row identity only matters "
            f"for the thesis-scale labeled corpus."
        )
    parts = reference_split_indices(n_rows, seed)
    out = []
    for idx in parts:
        assign = spark.createDataFrame(
            [(int(p), i) for i, p in enumerate(idx)],
            f"{pos_col} bigint, split_pos int",
        )
        out.append(df.join(F.broadcast(assign), pos_col))
    return out


def random_draw(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """R4: fixed-size uniform draw (hack_exp.py:34,94 `choices(k=n)`;
    without replacement here — the trials only need a uniform subset)."""
    return df.orderBy(F.rand(seed)).limit(n)


def mix_corpus(df: DataFrame, fractions: dict[str, float],
               source_col: str = "source", key_col: str = "doc_id",
               default_fraction: float = 1.0, seed: int = 42) -> DataFrame:
    """Deterministic stratified training-mix sampling with upsampling.

    `fractions[source]` is the target epochs for that source: 0.5 keeps
    ~half the rows, 2.25 emits every row twice plus ~a quarter of them a
    third time (the standard pretraining-mix semantic). Each row's fate
    is a pure function of (key, seed): u = md5-uniform in [0,1), copies
    = floor(f) + (u < frac(f)). Output adds a `copy` column (1..n).

    Why not sample()/rand(): their output depends on partition layout,
    so a retry, AQE re-plan or repartition changes WHICH rows survive —
    unacceptable for a resumable pipeline. The md5 acceptance is stable
    across engines, retries and partitionings, and DuckDB-expressible
    (q42's oracle recomputes it exactly: ('0x' || substr(md5(...),1,15))
    ::BIGINT / 2^60).

    Scale: one narrow projection + filter + bounded explode — no
    shuffle, no count() pre-pass; fractions are plan literals.
    """
    from ..functions.hashutil import md5_uniform

    # isNotNull gate: concat_ws SKIPS nulls, so without it every
    # NULL-key row would share md5(seed)'s fate (and diverge from the
    # NULL-propagating `key || '|seed'` the DuckDB oracle computes). A
    # null key yields u = NULL -> the fractional draw never fires and
    # the row gets exactly floor(fraction) copies, both engines alike.
    u = F.when(
        F.col(key_col).isNotNull(),
        md5_uniform(F.col(key_col).cast("string"), F.lit(str(seed))),
    )
    frac = F.lit(float(default_fraction))
    for s, f in sorted(fractions.items()):
        frac = F.when(F.col(source_col) == s, F.lit(float(f))).otherwise(frac)
    n_copies = (
        F.floor(frac).cast("long")
        + F.when(u < (frac - F.floor(frac)), F.lit(1)).otherwise(F.lit(0))
    )
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") >= 1)
        .withColumn("copy", F.explode(F.sequence(F.lit(1).cast("long"), F.col("__n"))))
        .drop("__n")
    )


def salted_agg(df: DataFrame, key: str | list[str],
               aggs: dict[str, str] | list[tuple[str, str]],
               salt: int = 16, seed: int = 42) -> DataFrame:
    """Skew-safe two-phase aggregation: partial-aggregate on
    (key, salt) then finish on key — a single hot key spreads over
    `salt` reducers in phase 1 and phase 2 only merges `salt` tiny
    partials per key. Exact for the decomposable aggregates supported
    here: aggs maps column -> 'sum' | 'count' | 'min' | 'max' (pass a
    list of (column, how) pairs to aggregate one column several ways).

    The salt hashes row content with a fixed seed (xxhash64), never a
    nondeterministic id — retried tasks re-salt identically, keeping
    results and partition placement reproducible. AQE's skew-join
    handling covers joins; this is the aggregation-side analog Spark
    has no automatic rewrite for (map-side partial aggregation already
    helps, but a hot key still lands on ONE reducer for the final
    merge; with salting that final merge sees `salt` rows, not all).
    """
    keys = [key] if isinstance(key, str) else list(key)
    items = list(aggs.items()) if isinstance(aggs, dict) else list(aggs)
    merge = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    # count = SQL count(col): non-null values only, like the one-phase
    # groupBy it must equal (count(*) would inflate on nullable columns)
    first = {"sum": F.sum, "count": lambda c: F.count(F.col(c)),
             "min": F.min, "max": F.max}
    # pmod, not abs(...)%: abs(Long.MIN_VALUE) overflows and throws
    # under ANSI mode
    salted = df.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed)),
               F.lit(salt)),
    )
    partial = salted.groupBy(*keys, "__salt").agg(*[
        first[how](c).alias(f"__p_{c}_{how}") for c, how in items
    ])
    return partial.groupBy(*keys).agg(*[
        merge[how](f"__p_{c}_{how}").alias(f"{how}_{c}")
        for c, how in items
    ])


def fill_token_budget(df: DataFrame, budget: int,
                      tokens_col: str = "n_tokens",
                      key_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Deterministic corpus assembly to a token budget: order docs by a
    pure md5 fate of (key, seed) and keep the prefix whose cumulative
    token count still STARTS below the budget (so the budget is filled
    and first exceeded by at most one doc — the standard "take docs
    until the budget is full" semantic). Returns every row with
    (cum_tokens, kept); downstream filters on kept.

    Determinism has mix_corpus's rationale: sample()/rand() orderings
    move with partition layout, an md5 fate is stable across engines,
    retries and repartitionings — rerunning the job assembles the SAME
    corpus. Ties in the fate are broken by the key itself, so the
    prefix is total-ordered even on hash collisions.

    Scale shape — a DISTRIBUTED prefix sum, not a bare global window
    (which would drag the whole corpus through one reducer): range-
    partition by (fate, key), cumsum WITHIN each sorted partition, add
    per-partition offsets computed from one #partitions-row aggregate
    (the shuffled_with_position pattern — the only driver action is
    that bounded offset map). Identical values to the global window by
    construction: range partitioning makes the partition order the
    global order.
    """
    return _fate_cumsum(df, tokens_col, key_col, seed,
                        caller="fill_token_budget").withColumn(
        "kept",
        (F.col("cum_tokens") - F.col(tokens_col).cast("long"))
        < F.lit(int(budget)),
    )


def _fate_cumsum(df: DataFrame, tokens_col: str, key_col: str,
                 seed: int, caller: str) -> DataFrame:
    """Shared distributed prefix sum over the md5-fate order (the
    fill_token_budget recipe, also the packing order of
    pack_sequences): range-partition by (fate, key), cumsum WITHIN each
    sorted partition, add per-partition offsets computed from one
    #partitions-row aggregate. Adds `cum_tokens` (BIGINT, inclusive)."""
    from ..functions.hashutil import md5_long

    spark = df.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fate = md5_long(F.col(key_col).cast("string"), F.lit(str(seed)))
    # localCheckpoint freezes the range partitioning so the offsets pass
    # and the cumsum pass see the same partition ids
    ranged = (
        df.withColumn("__fate", fate)
        .repartitionByRange(npart, F.col("__fate"), F.col(key_col))
        .localCheckpoint(eager=True)
        .withColumn("__pid", F.spark_partition_id())
    )
    totals = (
        ranged.groupBy("__pid")
        .agg(F.sum(F.col(tokens_col).cast("long")).alias("t"),
             F.count_if(F.col(tokens_col).isNull()).alias("nulls"))
        .collect()
    )
    # NULL token counts would silently ride through the window cumsum
    # as NULL cum_tokens (and an all-NULL partition makes t=None, a
    # driver TypeError below) — reject them up front; the check rides
    # the offsets aggregate, zero extra jobs.
    n_null = sum(r["nulls"] for r in totals)
    if n_null:
        raise ValueError(
            f"{caller}: {n_null} row(s) have NULL {tokens_col}; "
            f"fill or filter them first")
    offsets, acc = [], 0
    for r in sorted(totals, key=lambda r: r["__pid"]):
        offsets.append((r["__pid"], acc))
        acc += int(r["t"])
    off_df = spark.createDataFrame(offsets, "__pid int, __off long")
    w = (Window.partitionBy("__pid")
         .orderBy(F.col("__fate"), F.col(key_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(
            "cum_tokens",
            F.sum(F.col(tokens_col).cast("long")).over(w) + F.col("__off"),
        )
        .drop("__fate", "__pid", "__off")
    )


def pack_sequences(df: DataFrame, context_len: int,
                   tokens_col: str = "n_tokens",
                   key_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """GPT-style sequence packing (concat-and-chunk): shuffle the docs
    deterministically (md5 fate of (key, seed) — the fill_token_budget
    order), concatenate their token streams, slice into fixed
    `context_len` windows, and report where each doc landed:

      start_offset  token offset of the doc's first token (BIGINT)
      first_window  start_offset DIV context_len
      last_window   (start_offset + n_tokens - 1) DIV context_len
      n_windows     last - first + 1 (how many training sequences the
                    doc spans; >1 means it crosses a boundary)

    This is the packing used by large-scale LM training pipelines:
    documents are concatenated and split at fixed context boundaries,
    not padded per-doc. Zero-token docs occupy no window: their three
    window columns are NULL (they are still emitted so row accounting
    matches the corpus).

    Scale shape: the same DISTRIBUTED prefix sum as fill_token_budget
    (range partition by fate, per-partition cumsum + a #partitions-row
    offset map — never a bare global window); the window arithmetic is
    pure integer projection. Deterministic across engines, retries and
    partitionings, so re-running the job packs the SAME sequences.
    """
    if context_len <= 0:
        raise ValueError(f"context_len must be positive, got {context_len}")
    out = _fate_cumsum(df, tokens_col, key_col, seed,
                       caller="pack_sequences")
    n = F.col(tokens_col).cast("long")
    c = int(context_len)
    return (
        out.withColumn("start_offset", F.col("cum_tokens") - n)
        .withColumn("first_window", F.when(
            n == 0, F.lit(None).cast("long")
        ).otherwise(F.expr(f"start_offset DIV {c}")))
        .withColumn("last_window", F.when(
            n == 0, F.lit(None).cast("long")
        ).otherwise(F.expr(f"(cum_tokens - 1) DIV {c}")))
        .withColumn("n_windows", F.when(
            n == 0, F.lit(None).cast("long")
        ).otherwise(F.col("last_window") - F.col("first_window")
                    + F.lit(1)))
    )


def stratified_sample(df: DataFrame, total: int,
                      stratum_col: str = "source",
                      key_col: str = "doc_id",
                      seed: int = 42) -> DataFrame:
    """Deterministic stratified sampling with EXACT allocation: size
    per-stratum quotas proportionally to stratum row counts via
    largest-remainder apportionment (`apportion_budget` — sum(quota) ==
    total exactly, never the drifting expectation a per-row Bernoulli
    sample gives), then keep each stratum's md5-fate-ranked top-quota
    rows. The fate order makes the drawn sample identical across
    engines, retries and partitionings (mix_corpus's rationale), and
    every quantity is BIGINT, so the whole draw is oracle-portable.

    For total <= corpus size, quota_i <= |stratum_i| always (Hamilton
    with weights = sizes cannot over-allocate a stratum); a total
    larger than the corpus keeps everything. A NULL stratum is a
    stratum of its own (null-safe quota join — a plain equi-join would
    silently drop its rows AFTER quota was allocated to them, making
    sum(kept) < total). NULL keys are rejected up front: several
    NULL-key rows in one stratum would share one md5 fate with a NULL
    tiebreaker, and which of them is kept would then move with
    partition layout — the exact failure the fate order exists to
    prevent (md5_long's concat_ws skips NULLs; mix_corpus gates the
    same way).

    Output: df's (key, stratum) plus (alloc, rank_in_stratum BIGINT,
    kept boolean). Scale shape: one map-side count agg (#strata rows),
    apportionment's bounded global ranking over #strata rows, ONE
    stratum-keyed window over the data (no global window), a keyed
    join of the data against the #strata-row quota relation, and one
    limit-1 NULL-key existence probe (driver-action audit table).
    """
    from ..functions.hashutil import md5_long
    from pyspark.sql import Window as W

    if not df.filter(F.col(key_col).isNull()).isEmpty():
        raise ValueError(
            f"stratified_sample: NULL {key_col} rows break the "
            f"deterministic fate order; fill or filter them first")
    weights = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).cast("long").alias("__n"))
    allocs = apportion_budget(weights, total, key_col=stratum_col,
                              weight_col="__n").withColumnRenamed(
        stratum_col, "__stratum")
    fate = md5_long(F.col(key_col).cast("string"), F.lit(str(seed)))
    wr = W.partitionBy(stratum_col).orderBy(fate, F.col(key_col))
    return (
        df.select(key_col, stratum_col)
        .withColumn("rank_in_stratum",
                    F.row_number().over(wr).cast("long"))
        .join(allocs,
              F.col(stratum_col).eqNullSafe(F.col("__stratum")))
        .drop("__stratum")
        .withColumn("kept", F.col("rank_in_stratum") <= F.col("alloc"))
    )


def apportion_budget(df: DataFrame, budget: int, key_col: str = "key",
                     weight_col: str = "weight") -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: split an integer
    `budget` over keys proportionally to non-negative integer weights,
    exactly — sum(alloc) == budget always (pinned by test). The crawl
    scheduler's per-domain fetch-budget allocation (weights = page
    counts / priority scores), also the deterministic way to size
    per-stratum samples in mix_corpus-style corpus assembly.

    base_i = (budget * w_i) DIV W; the `budget - sum(base)` leftover
    units go to the largest remainders (budget * w_i MOD W), ties by
    key — every operation is BIGINT, so the allocation is byte-equal in
    any engine (q71 DuckDB-oracles it).

    Shape at scale: one checkpoint of (key, weight) whose job also
    observes the scalar total (guarded positive — NULL allocs on a zero
    sum would be silent), then ONE exchange to a single partition whose
    window sums give the weight total and the used-total and whose
    row_number ranks (remainder desc, key). The total is a column, not
    a literal, so a new total compiles no new class. The global sort is
    inherent to the problem (leftover +1s are a corpus-global ranking);
    rows are (key, two longs), so even 10^8 domains sort ~GBs in one task —
    acceptable for a scheduling step that runs once per crawl cycle.
    Weights must be non-negative with a positive sum; rows with weight
    0 get 0.
    """
    from pyspark.sql import Window as W

    w = F.col(weight_col).cast("long")
    # ONE evaluation of the caller's (possibly expensive) upstream
    # lineage: cut it to (key, long weight); the windows read the cut,
    # and the guard's sum/min are observed on the cut's own job (as in
    # connected_components). A
    # zero/all-null total would make __base/__rem NULL via DIV and
    # silently return alloc=NULL for every key.
    obs = Observation()
    wdf = (df.select(F.col(key_col), w.alias("__w"))
           .observe(obs, F.sum("__w").alias("__tot"),
                    F.min("__w").alias("__min"))
           .localCheckpoint(eager=True))
    tot_row = obs.get
    if tot_row["__tot"] is None or tot_row["__tot"] <= 0:
        raise ValueError(
            f"apportion_budget: weight sum must be positive, got "
            f"{tot_row['__tot']!r} (weights all zero/null?)")
    if tot_row["__min"] is not None and tot_row["__min"] < 0:
        raise ValueError("apportion_budget: weights must be non-negative")
    everything = W.partitionBy()
    base = wdf.withColumn("__tot", F.sum("__w").over(everything)).select(
        key_col,
        F.expr(f"CAST(({budget} * __w) DIV __tot AS BIGINT)")
        .alias("__base"),
        F.expr(f"CAST(({budget} * __w) % __tot AS BIGINT)")
        .alias("__rem"),
    )
    ranked = (
        base.withColumn("__used", F.sum("__base").over(everything))
        .withColumn(
            "__rk",
            F.row_number().over(
                W.orderBy(F.col("__rem").desc(), F.col(key_col))),
        )
    )
    return ranked.select(
        key_col,
        (F.col("__base")
         + F.when(F.col("__rk") <= F.lit(budget) - F.col("__used"), 1)
         .otherwise(0)).cast("long").alias("alloc"),
    )
