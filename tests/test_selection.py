"""Pool/top-n/teachable/arbitration selection algebra vs oracle."""

from pyspark.sql import functions as F

from thesis_ner_co_tri_training_spark.operators.selection import (
    agreement_join,
    arbitrate_labels,
    assign_pools,
    min_tokens,
    shuffled_with_position,
    teachable,
    top_n_per_pool,
)


def test_pools_disjoint_and_sized(spark):
    df = spark.createDataFrame([(i, f"s{i}") for i in range(100)], ["sent_id", "text"])
    pooled = assign_pools(shuffled_with_position(df, seed=42), u=10, k=5)
    rows = pooled.collect()
    assert len(rows) == 50  # k pools of u
    by_pool = {}
    for r in rows:
        by_pool.setdefault(r["pool_id"], set()).add(r["sent_id"])
    assert set(by_pool) == {0, 1, 2, 3, 4}
    assert all(len(v) == 10 for v in by_pool.values())
    # disjoint
    all_ids = [i for v in by_pool.values() for i in v]
    assert len(all_ids) == len(set(all_ids))


def test_shuffle_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], ["sent_id"])
    a = [r["sent_id"] for r in shuffled_with_position(df, 42).orderBy("pos").collect()]
    b = [r["sent_id"] for r in shuffled_with_position(df, 42).orderBy("pos").collect()]
    c = [r["sent_id"] for r in shuffled_with_position(df, 43).orderBy("pos").collect()]
    assert a == b
    assert a != c


def test_top_n_per_pool_with_tie_break(spark):
    rows = [
        # pool 0: scores with a tie at 0.9 — pos decides deterministically
        (1, 0, 0.9, 1), (2, 0, 0.9, 2), (3, 0, 0.5, 3), (4, 0, 0.99, 4),
        # pool 1
        (5, 1, 0.1, 5), (6, 1, 0.2, 6), (7, 1, 0.3, 7),
    ]
    df = spark.createDataFrame(rows, ["sent_id", "pool_id", "avg_cfd", "pos"])
    got = {
        (r["pool_id"], r["sent_id"])
        for r in top_n_per_pool(df, 2).collect()
    }
    assert got == {(0, 4), (0, 1), (1, 7), (1, 6)}


def test_teachable_gate(spark):
    rows = [
        # cos=1 (identical), teachers confident, student unconfident -> pass
        (1, ["B-PER", "O"], ["B-PER", "O"], 0.9, 0.8, 0.3),
        # student too confident -> fail
        (2, ["B-PER", "O"], ["B-PER", "O"], 0.9, 0.8, 0.9),
        # teachers disagree (cos 0) -> fail
        (3, ["B-PER"], ["B-GPE"], 0.9, 0.8, 0.3),
        # teacher unconfident -> fail
        (4, ["B-PER", "O"], ["B-PER", "O"], 0.5, 0.9, 0.3),
    ]
    df = spark.createDataFrame(
        rows, "sent_id long, t1_tags array<string>, t2_tags array<string>, "
              "t1_cfd double, t2_cfd double, s_cfd double")
    got = [r["sent_id"] for r in
           teachable(df, 0.7, 0.7, 0.6).orderBy("sent_id").collect()]
    assert got == [1]


def test_arbitration(spark):
    rows = [
        (1, ["B-PER"], 0.9, ["B-PER"], 0.1),   # equal -> t1
        (2, ["B-PER"], 0.9, ["B-GPE"], 0.1),   # t1 more confident -> t1
        (3, ["B-PER"], 0.1, ["B-GPE"], 0.9),   # t2 more confident -> t2
        (4, ["B-PER"], 0.5, ["B-GPE"], 0.5),   # tie -> t2 (reference else-branch)
    ]
    df = spark.createDataFrame(
        rows, "sent_id long, t1 array<string>, c1 double, t2 array<string>, c2 double")
    got = {
        r["sent_id"]: r["lab"]
        for r in df.select(
            "sent_id",
            arbitrate_labels(F.col("t1"), F.col("c1"), F.col("t2"), F.col("c2")).alias("lab"),
        ).collect()
    }
    assert got == {1: ["B-PER"], 2: ["B-PER"], 3: ["B-GPE"], 4: ["B-GPE"]}


def test_agreement_join_rename_and_gate(spark):
    # A-side ISW tags; B-side OntoNotes tags that rename to the same bag.
    a = spark.createDataFrame(
        [(1, ["x"], ["B-PER", "O"], 0.9), (2, ["y"], ["B-GPE"], 0.8),
         (3, ["z"], ["B-ORG"], 0.7)],
        "sent_id long, tokens array<string>, tags array<string>, avg_cfd double")
    b = spark.createDataFrame(
        [(1, ["x"], ["B-PERSON", "O"], 0.85), (2, ["y"], ["B-DATE"], 0.8)],
        "sent_id long, tokens array<string>, tags array<string>, avg_cfd double")
    out = agreement_join(a, b, cos_threshold=0.7).collect()
    assert len(out) == 1  # sent 1 agrees after PERSON->PER; 2 disagrees; 3 unmatched
    assert out[0]["sent_id"] == 1
    assert out[0]["cos_score"] == 1.0


def test_min_tokens(spark):
    df = spark.createDataFrame(
        [(1, ["a"] * 11), (2, ["a"] * 10)], "id long, tokens array<string>")
    assert [r["id"] for r in min_tokens(df, 10).collect()] == [1]


def test_single_tag_subset(spark):
    df = spark.createDataFrame(
        [(1, ["B-PER", "O"]), (2, ["O"]), (3, ["I-PER", "B-PER"]), (4, ["B-GPE"])],
        "sent_id long, tags array<string>",
    )
    from thesis_ner_co_tri_training_spark.operators.selection import single_tag_subset
    got = {r["sent_id"] for r in single_tag_subset(df, "PER").collect()}
    assert got == {1, 3}
    assert single_tag_subset(df, "PER", fix_len=1).count() == 1


def test_train_dev_test_split_partitions_everything(spark):
    from thesis_ner_co_tri_training_spark.operators.selection import (
        train_dev_test_split)
    df = spark.range(1000)
    parts = train_dev_test_split(df, seed=1)
    sizes = [p.count() for p in parts]
    assert sum(sizes) == 1000
    assert sizes[0] > sizes[1] > sizes[2] > 0
    # deterministic given the seed
    again = [p.count() for p in train_dev_test_split(spark.range(1000), seed=1)]
    assert sizes == again


def test_random_draw_deterministic(spark):
    from thesis_ner_co_tri_training_spark.operators.selection import random_draw
    df = spark.range(500)
    a = sorted(r["id"] for r in random_draw(df, 20, seed=7).collect())
    b = sorted(r["id"] for r in random_draw(spark.range(500), 20, seed=7).collect())
    assert a == b and len(a) == 20


def test_reference_split_indices_golden():
    """Pin the sklearn-replica split against hand-verifiable numpy goldens
    (RandomState(1).permutation is the documented ShuffleSplit source of
    randomness; slicing follows sklearn's ceil(test_size*n) rule)."""
    import numpy as np

    from thesis_ner_co_tri_training_spark.operators.selection import (
        reference_split_indices)

    perm10 = list(np.random.RandomState(1).permutation(10))
    train, dev, test = reference_split_indices(10, seed=1)
    # stage 1: test = first ceil(10*0.1)=1 of the permutation
    assert test == [perm10[0]]
    # stage 2 operates on the remaining 9 IN PERMUTED ORDER
    stage1_train = [perm10[i] for i in range(1, 10)]
    perm9 = list(np.random.RandomState(1).permutation(9))
    n_dev = 2  # ceil(9 * 2/9)
    assert dev == [stage1_train[i] for i in perm9[:n_dev]]
    assert train == [stage1_train[i] for i in perm9[n_dev:]]
    # partition of range(n), 70/20/10 shape
    assert sorted(train + dev + test) == list(range(10))
    tr, dv, te = reference_split_indices(11258, seed=1)  # README.md:138 corpus
    assert (len(te), len(dv)) == (1126, 2252) and len(tr) == 7880


def test_train_dev_test_split_exact(spark):
    from thesis_ner_co_tri_training_spark.operators.selection import (
        reference_split_indices, train_dev_test_split_exact)

    df = spark.createDataFrame([(i, f"s{i}") for i in range(97)],
                               "pos bigint, text string")
    train, dev, test = train_dev_test_split_exact(df, "pos", n_rows=97)
    want_tr, want_dv, want_te = reference_split_indices(97)
    for got_df, want in ((train, want_tr), (dev, want_dv), (test, want_te)):
        rows = sorted(got_df.collect(), key=lambda r: r["split_pos"])
        assert [r["pos"] for r in rows] == want  # membership AND order
    assert train.count() + dev.count() + test.count() == 97


def test_train_dev_test_split_exact_caps_driver_size(spark):
    """The exact split builds a driver-side permutation; above the cap it
    must refuse loudly (pointing at the distributed split), without
    running any Spark job — and the golden-permutation behavior below the
    cap is untouched (test above)."""
    import pytest as _pytest

    from thesis_ner_co_tri_training_spark.operators.selection import (
        EXACT_SPLIT_MAX_ROWS, train_dev_test_split_exact)

    df = spark.createDataFrame([(0, "s")], "pos bigint, text string")
    with _pytest.raises(ValueError, match="train_dev_test_split"):
        train_dev_test_split_exact(df, "pos", n_rows=EXACT_SPLIT_MAX_ROWS + 1)


def test_mix_corpus_deterministic_upsampling(spark):
    from thesis_ner_co_tri_training_spark.operators.selection import mix_corpus

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "doc_id long, source string")
    fr = {"s0": 0.0, "s1": 2.0, "s2": 0.5}
    out = mix_corpus(df, fr, seed=11).collect()
    rows = [(r["doc_id"], r["source"], r["copy"]) for r in out]
    # s0 dropped entirely; s1 exactly doubled (integer fraction: no
    # randomness); s2 roughly halved
    assert not any(s == "s0" for _, s, _ in rows)
    s1 = [t for t in rows if t[1] == "s1"]
    assert len(s1) == 200 and {c for _, _, c in s1} == {1, 2}
    n_s2 = sum(1 for t in rows if t[1] == "s2")
    assert 30 <= n_s2 <= 70  # ~50 of 100, md5-uniform
    # fate is a pure function of (key, seed): partition layout must not
    # change WHICH rows survive (the sample()/rand() failure mode)
    again = mix_corpus(df.repartition(7), fr, seed=11).collect()
    assert sorted(rows) == sorted(
        (r["doc_id"], r["source"], r["copy"]) for r in again)
    # different seed -> different survivors (not vacuously determinist)
    other = mix_corpus(df, fr, seed=12).collect()
    assert sorted(rows) != sorted(
        (r["doc_id"], r["source"], r["copy"]) for r in other)


def test_salted_agg_matches_plain(spark):
    """Salted two-phase aggregation must equal the one-phase groupBy on
    a deliberately skewed key (90% of rows share key 0)."""
    from pyspark.sql import functions as F

    from thesis_ner_co_tri_training_spark.operators.selection import salted_agg

    rows = [(0 if i % 10 else i, i, None if i % 5 == 0 else float(i % 7))
            for i in range(2000)]  # nullable v: count must skip nulls
    df = spark.createDataFrame(rows, "k long, x long, v double")
    d = df.select("k", "x", F.col("v").cast("decimal(18,4)").alias("v"))
    got = {r["k"]: (r["count_x"], r["count_v"], r["sum_v"],
                    r["min_x"], r["max_x"])
           for r in salted_agg(
               d, "k", [("x", "count"), ("v", "count"), ("v", "sum"),
                        ("x", "min"), ("x", "max")], salt=8).collect()}
    want = {r["k"]: (r["n"], r["nv"], r["s"], r["mn"], r["mx"])
            for r in d.groupBy("k").agg(
                F.count("x").alias("n"), F.count("v").alias("nv"),
                F.sum("v").alias("s"),
                F.min("x").alias("mn"), F.max("x").alias("mx")).collect()}
    assert got == want
    # the null-skipping distinction is actually exercised
    assert any(t[0] != t[1] for t in got.values())


def test_fill_token_budget(spark):
    """Budget prefix semantics: kept docs = the md5-fate-ordered prefix
    whose cumulative count STARTS below the budget (so the budget is
    first exceeded by at most one doc); rerunning under a different
    partitioning keeps the SAME docs (the whole point vs rand())."""
    from thesis_ner_co_tri_training_spark.operators.selection import (
        fill_token_budget)

    rows = [(i, 10 + (i % 7)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
    out = fill_token_budget(df, budget=200).collect()
    kept = sorted(r["doc_id"] for r in out if r["kept"])
    total = sum(r["n_tokens"] for r in out if r["kept"])
    over = total - 200
    assert 0 <= over < 17          # exceeded by at most one doc
    # dropping any kept doc dips below budget -> prefix is minimal
    assert total - min(r["n_tokens"] for r in out if r["kept"]) < 200
    # partitioning-independence
    kept2 = sorted(
        r["doc_id"]
        for r in fill_token_budget(df.repartition(7), budget=200).collect()
        if r["kept"])
    assert kept2 == kept
    # full-budget keeps everything
    assert all(r["kept"] for r in fill_token_budget(df, budget=10**9).collect())


def _md5_fate(key, seed=42):
    """The engine's md5_long(key, seed) fate, replayed: first 15 hex
    chars of md5(f"{key}|{seed}") as an int — the '|'-joined recipe is
    part of the cross-engine contract (q42/q57/q80/q81 oracles)."""
    import hashlib

    return int(hashlib.md5(f"{key}|{seed}".encode()).hexdigest()[:15], 16)


def test_pack_sequences_matches_replay(spark):
    """pack_sequences == a pure-Python replay of concat-and-chunk over
    the md5-fate order: exact start offsets and window spans, boundary-
    crossing docs span >1 window, zero-token docs carry NULL windows,
    and the packing is partitioning-independent."""

    import pytest

    from thesis_ner_co_tri_training_spark.operators.selection import (
        pack_sequences)

    C = 10
    rows = [(i, [3, 0, 25, 7, 10, 1][i % 6]) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")

    want, cum = {}, 0
    for i, n in sorted(rows, key=lambda t: (_md5_fate(t[0]), t[0])):
        start = cum
        cum += n
        if n == 0:
            want[i] = (n, start, None, None, None)
        else:
            want[i] = (n, start, start // C, (cum - 1) // C,
                       (cum - 1) // C - start // C + 1)

    got = {r["doc_id"]: (r["n_tokens"], r["start_offset"],
                         r["first_window"], r["last_window"],
                         r["n_windows"])
           for r in pack_sequences(df, context_len=C).collect()}
    assert got == want
    # the 25-token docs must cross context boundaries
    assert any(v[4] and v[4] > 1 for v in got.values())
    # partitioning-independence: same packing from a different layout
    got7 = {r["doc_id"]: (r["n_tokens"], r["start_offset"],
                          r["first_window"], r["last_window"],
                          r["n_windows"])
            for r in pack_sequences(df.repartition(7),
                                    context_len=C).collect()}
    assert got7 == got
    with pytest.raises(ValueError, match="context_len"):
        pack_sequences(df, context_len=0)


def test_stratified_sample_matches_replay(spark):
    """stratified_sample == pure-Python replay: Hamilton quotas over
    stratum sizes (sum == total exactly), per-stratum md5-fate ranking,
    kept == (rank <= quota); kept counts hit quotas EXACTLY (never a
    Bernoulli expectation), quotas never exceed stratum sizes for
    total <= corpus, and the draw is partitioning-independent."""

    from thesis_ner_co_tri_training_spark.operators.selection import (
        stratified_sample)

    sizes = {"a": 17, "b": 5, "c": 38, "d": 1}
    rows, i = [], 0
    for s, n in sorted(sizes.items()):
        for _ in range(n):
            rows.append((i, s))
            i += 1
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    total = 23

    # replay: Hamilton over sizes, ties by stratum key
    N = sum(sizes.values())
    base = {s: (total * n) // N for s, n in sizes.items()}
    rem = {s: (total * sizes[s]) % N for s in sizes}
    leftover = total - sum(base.values())
    for s in sorted(sizes, key=lambda s: (-rem[s], s))[:leftover]:
        base[s] += 1
    assert sum(base.values()) == total

    want = {}
    for s in sizes:
        members = sorted((d for d, st in rows if st == s),
                         key=lambda d: (_md5_fate(d), d))
        for rk, d in enumerate(members, 1):
            want[d] = (s, rk, base[s], rk <= base[s])

    got = {r["doc_id"]: (r["source"], r["rank_in_stratum"], r["alloc"],
                         r["kept"])
           for r in stratified_sample(df, total).collect()}
    assert got == want
    # kept counts are exact per stratum and quotas fit the strata
    for s, n in sizes.items():
        kept_n = sum(1 for v in got.values() if v[0] == s and v[3])
        assert kept_n == base[s] <= n
    # partitioning-independence
    got9 = {r["doc_id"]: (r["source"], r["rank_in_stratum"], r["alloc"],
                          r["kept"])
            for r in stratified_sample(df.repartition(9), total).collect()}
    assert got9 == got
    # total >= corpus keeps everything
    assert all(r["kept"]
               for r in stratified_sample(df, N).collect())


def test_apportion_budget_exact_and_proportional(spark):
    """Hamilton apportionment: sum(alloc) == budget exactly for awkward
    budgets, allocations track proportions within 1 unit (the Hamilton
    quota property), zero weights get zero, ties break by key."""
    from thesis_ner_co_tri_training_spark.operators.selection import (
        apportion_budget)

    rows = [("a", 5), ("b", 3), ("c", 2), ("d", 0), ("e", 1)]
    df = spark.createDataFrame(rows, "key string, weight long")
    for budget in (7, 10, 99, 100, 101, 99991):
        out = {r.key: r.alloc
               for r in apportion_budget(df, budget).collect()}
        assert sum(out.values()) == budget
        assert out["d"] == 0
        tot = sum(w for _, w in rows)
        for k, w in rows:
            quota = budget * w / tot
            assert quota - 1 < out[k] < quota + 1, (budget, k)

    # tie on remainder -> lexicographically smaller key gets the unit
    tie = spark.createDataFrame([("x", 1), ("y", 1)],
                                "key string, weight long")
    out = {r.key: r.alloc for r in apportion_budget(tie, 3).collect()}
    assert out == {"x": 2, "y": 1}


def test_apportion_budget_rejects_degenerate_weights(spark):
    """Zero/all-null weight totals used to propagate NULL through DIV
    and return alloc=NULL for every key silently; now they raise."""
    import pytest

    from thesis_ner_co_tri_training_spark.operators.selection import (
        apportion_budget)

    zero = spark.createDataFrame([("a", 0), ("b", 0)], "key string, weight int")
    with pytest.raises(ValueError, match="positive"):
        apportion_budget(zero, 10)
    nulls = spark.createDataFrame([("a", None), ("b", None)],
                                  "key string, weight int")
    with pytest.raises(ValueError, match="positive"):
        apportion_budget(nulls, 10)
    neg = spark.createDataFrame([("a", 5), ("b", -1)],
                                "key string, weight int")
    with pytest.raises(ValueError, match="non-negative"):
        apportion_budget(neg, 10)


def test_fill_token_budget_rejects_null_token_counts(spark):
    """NULL n_tokens would ride through the window cumsum as NULL kept
    flags (and TypeError the driver-side offset fold on an all-NULL
    partition) — rejected up front with a countable error."""
    import pytest

    from thesis_ner_co_tri_training_spark.operators.selection import (
        fill_token_budget)

    df = spark.createDataFrame(
        [("d1", 10), ("d2", None), ("d3", 5)],
        "doc_id string, n_tokens int")
    with pytest.raises(ValueError, match="NULL n_tokens"):
        fill_token_budget(df, budget=12).collect()


def test_stratified_sample_null_stratum_and_null_key(spark):
    """A NULL stratum is a stratum of its own: it receives quota and its
    rows survive the (null-safe) quota join, so sum(kept) == total even
    with NULL sources. NULL keys are rejected up front (they would
    share one md5 fate with a NULL tiebreaker — nondeterministic)."""
    import pytest

    from thesis_ner_co_tri_training_spark.operators.selection import (
        stratified_sample)

    rows = ([(i, "a") for i in range(50)]
            + [(i, None) for i in range(50, 100)])
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out = stratified_sample(df, 10).collect()
    assert len(out) == 100                      # no rows dropped
    assert sum(1 for r in out if r["kept"]) == 10   # exact total
    null_kept = sum(1 for r in out if r["kept"] and r["source"] is None)
    assert null_kept == 5                       # NULL stratum got its quota
    with pytest.raises(ValueError, match="NULL doc_id"):
        stratified_sample(
            spark.createDataFrame([(None, "a"), (1, "a")],
                                  "doc_id bigint, source string"),
            1).collect()


def test_q81_oracle_null_stratum_parity(spark, tmp_path):
    """q81's DuckDB oracle treats a NULL source as the engine does: a
    stratum of its own (null-safe quota join), ranked NULLS FIRST in
    the remainder tie-break. Three equal strata tie on remainder with
    two seats left over, so the tie-break decides which one goes short."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(6), pa.int64()),
        "source": pa.array([None, None, "a", "a", "b", "b"], pa.string()),
    }), path)
    got = [tuple(r) for r in
           entry.q81_stratified_sample(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(entry.oracle_sql()["q81_stratified_sample"]).fetchall()
    assert got == [tuple(r) for r in want]
    assert {r[1]: r[3] for r in got} == {None: 66, "a": 66, "b": 65}
