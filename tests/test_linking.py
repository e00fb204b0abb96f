"""Entity linking / canonicalization vs pure-Python oracles.

connected_components is checked against union-find; canonicalize_entities
against union-find over the engine's OWN verified pair set (so the test
pins CC + singleton handling + alias/count aggregation without depending
on probabilistic LSH recall), plus guaranteed-recall cases: surfaces
identical after lowercasing have identical shingle sets, hence identical
minhash signatures and a guaranteed shared bucket (collision prob 1.0).
"""

import random

import pytest
from pyspark.sql import functions as F

from thesis_ner_co_tri_training_spark.operators.linking import (
    canonicalize_entities,
    connected_components,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signature,
    surface_shingles,
    surface_to_entity,
)


def union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_connected_components_chain_and_island(spark):
    chain = [(f"s{i}", f"s{i+1}") for i in range(1, 8)]
    rng = random.Random(11)
    randoms = [
        [(f"r{rng.randrange(40)}", f"r{rng.randrange(40)}")
         for _ in range(rng.randrange(20, 50))]
        for _ in range(3)
    ]
    cases = {
        "chain+island": chain + [("x1", "x2")],
        "empty": [],
        "dup+reversed": [("b", "a"), ("a", "b"), ("a", "b"), ("c", "b"),
                         ("d", "c"), ("c", "d")],
        "self-loops": [("a", "a"), ("a", "b"), ("z", "z"), ("c", "c"),
                       ("c", "d")],
        **{f"random{i}": r for i, r in enumerate(randoms)},
        # nodes whose only edge is a self-loop, beside random graphs
        **{f"random{i}+lone": r + [(f"lone{j}", f"lone{j}")
                                   for j in range(i + 1)]
           for i, r in enumerate(randoms)},
    }
    for name, edges in cases.items():
        df = spark.createDataFrame(edges, "a string, b string")
        got = {r["node"]: r["comp"]
               for r in connected_components(df).collect()}
        want = union_find({n for e in edges for n in e}, edges)
        assert got == want, name
        if name == "chain+island":
            assert got["s7"] == "s1" and got["x2"] == "x1"


def test_star_cc_long_path_logarithmic(spark):
    """200-node path: star contraction closes it in <= 10 rounds
    (O(log n)), but not in 2 — running out of rounds raises instead of
    returning a partial forest."""
    names = [f"n{i:03d}" for i in range(200)]
    edges = list(zip(names, names[1:]))
    df = spark.createDataFrame(edges, "a string, b string")
    want = union_find(set(names), edges)
    got = {r["node"]: r["comp"]
           for r in connected_components(df, max_iter=10).collect()}
    assert got == want
    assert got[names[-1]] == names[0]
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components(df, max_iter=2)


def _cc_jobs(spark, edges, group):
    """(node -> comp, Spark jobs connected_components ran eagerly)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = connected_components(
            spark.createDataFrame(edges, "a string, b string"))
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return {r["node"]: r["comp"] for r in out.collect()}, jobs


def test_star_cc_stops_on_star_forest(spark):
    """The star-forest test ends the loop with no confirming round: an
    input that already is a star forest (every node has at most one
    smaller neighbour, and no node with one is another's) returns after
    its input checkpoint — one shuffle and the checkpoint job — and a
    two-level tree after exactly one round, which adds the round's
    three shuffles and its checkpoint job."""
    stars = [("b", "a"), ("a", "c"), ("e", "d"), ("f", "f")]
    got, jobs = _cc_jobs(spark, stars, "cc-star-forest")
    assert got == union_find({n for e in stars for n in e}, stars)
    assert jobs == 2

    tree = [("b", "a"), ("c", "b"), ("d", "b")]
    got, jobs = _cc_jobs(spark, tree, "cc-two-level")
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}
    assert jobs == 2 + 4


SURFACES = [
    ("Angela Merkel", 3),
    ("angela merkel", 2),     # same shingles after lower -> guaranteed merge
    ("ANGELA MERKEL", 1),
    ("Berlin", 2),
    ("berlin", 1),
    ("Siemens AG", 4),
    ("Deutsche Bahn", 1),
]


@pytest.fixture(scope="module")
def mentions(spark):
    rows = [(s,) for s, n in SURFACES for _ in range(n)]
    return spark.createDataFrame(rows, "surface string")


def test_canonicalize_matches_union_find_over_verified_pairs(spark, mentions):
    shingled = surface_shingles(mentions)
    sigs = minhash_signature(shingled)
    verified = jaccard_verify(lsh_candidate_pairs(sigs), 0.6)
    edges = [(r["a"], r["b"]) for r in verified.collect()]
    nodes = {s for s, _ in SURFACES}
    want_map = union_find(nodes, edges)

    ents = canonicalize_entities(mentions).collect()
    got_map = {a: r["canonical"] for r in ents for a in r["aliases"]}
    assert got_map == want_map

    # guaranteed merges (identical lowercased shingles) and non-merges
    assert got_map["Angela Merkel"] == got_map["angela merkel"] == got_map["ANGELA MERKEL"]
    assert got_map["Berlin"] == got_map["berlin"]
    assert got_map["Berlin"] != got_map["Angela Merkel"]
    assert got_map["Siemens AG"] != got_map["Deutsche Bahn"]

    # n_mentions reconcile and entity_id deterministic
    by_canon = {r["canonical"]: r for r in ents}
    for canon, r in by_canon.items():
        assert r["n_mentions"] == sum(n for s, n in SURFACES
                                      if want_map[s] == canon)
    total = sum(r["n_mentions"] for r in ents)
    assert total == sum(n for _, n in SURFACES)


def test_surface_to_entity_covers_all_mentions(spark, mentions):
    ents = canonicalize_entities(mentions)
    linked = surface_to_entity(mentions, ents)
    assert linked.filter(F.col("entity_id").isNull()).count() == 0
    assert linked.count() == mentions.count()


def test_lsh_candidate_pairs_rejects_short_signature(spark):
    """bands*rows_per_band beyond the signature length fails fast at
    the driver instead of an opaque mid-stage INVALID_ARRAY_INDEX."""
    import pytest

    from thesis_ner_co_tri_training_spark.operators.linking import (
        lsh_candidate_pairs, minhash_signature, surface_shingles)

    surfaces = spark.createDataFrame(
        [("Alpha",), ("Beta",)], "surface string")
    sig = minhash_signature(surface_shingles(surfaces), num_hashes=16)
    with pytest.raises(ValueError, match="signature length"):
        lsh_candidate_pairs(sig, bands=8, rows_per_band=4)


def test_lsh_skew_guard_at_max_bucket(spark):
    """Case variants of one word share every shingle, hence the whole
    signature and one bucket per band. A bucket of exactly max_bucket
    surfaces yields all its pairs (with their shingles); one more
    surface and the bucket is dropped. The same holds for identical
    docs through dedup.minhash_lsh_pairs."""
    variants = ["abc", "Abc", "aBc", "abC", "ABc", "AbC"]
    max_bucket = 5

    def pairs(words):
        df = spark.createDataFrame([(w,) for w in words], "surface string")
        sig = minhash_signature(surface_shingles(df))
        return lsh_candidate_pairs(sig, max_bucket=max_bucket).collect()

    got = pairs(variants[:max_bucket])
    assert sorted((r["a"], r["b"]) for r in got) == sorted(
        (a, b) for a in variants[:max_bucket] for b in variants[:max_bucket]
        if a < b)
    assert all(r["sh_a"] == r["sh_b"] == ["^ab", "abc", "bc$"] for r in got)
    assert pairs(variants[:max_bucket + 1]) == []

    # dedup rides the same enumerator: identical docs share one bucket
    # per band
    from thesis_ner_co_tri_training_spark.operators.dedup import (
        minhash_lsh_pairs)

    def doc_pairs(k):
        df = spark.createDataFrame(
            [(i, "the same four words") for i in range(k)],
            "doc_id long, text string")
        return {(r["a"], r["b"]) for r in
                minhash_lsh_pairs(df, max_bucket=max_bucket).collect()}

    assert doc_pairs(max_bucket) == {
        (a, b) for a in range(max_bucket) for b in range(max_bucket) if a < b}
    assert doc_pairs(max_bucket + 1) == set()
