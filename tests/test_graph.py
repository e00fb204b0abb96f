"""Graph analytics vs pure-Python power-iteration / BFS oracles."""

import pytest

from thesis_ner_co_tri_training_spark.plans.graph import (
    degree_stats, k_hop, pagerank_fixedpoint)

EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("d", "c"),            # d has no in-edges
    ("c", "e"),            # e is dangling (no out-edges)
]


def oracle_pagerank(edges, iters=10, d=0.85):
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        in_sum = {v: 0.0 for v in nodes}
        for s, t in edges:
            in_sum[t] += rank[s] / out[s]
        dangling = sum(rank[v] for v in nodes if v not in out)
        base = (1 - d) / n + d * dangling / n
        rank = {v: base + d * in_sum[v] for v in nodes}
    return rank


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "subj_id string, obj_id string")


def test_degree_stats(spark, edges_df):
    got = {r["node"]: (r["out_deg"], r["in_deg"], r["degree"])
           for r in degree_stats(edges_df).collect()}
    assert got == {
        "a": (2, 1, 3), "b": (1, 1, 2), "c": (2, 3, 5),
        "d": (1, 0, 1), "e": (0, 1, 1),
    }


def test_pagerank_matches_power_iteration(spark, edges_df):
    got = {r["node"]: r["rank"] / 10**12
           for r in pagerank_fixedpoint(edges_df, iterations=10).collect()}
    want = oracle_pagerank(EDGES, iters=10)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6, v
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # c is the hub
    assert max(got, key=got.get) == "c"


def oracle_pagerank_fixedpoint(edges, iters=10, scale=10**12):
    """Integer twin of oracle_pagerank — the exact recurrence of
    plans/graph.pagerank_fixedpoint (floor division everywhere)."""
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out = {}
    for s, _ in set(edges):
        out[s] = out.get(s, 0) + 1
    base = (15 * scale // 100) // n
    rank = {v: scale // n for v in nodes}
    for _ in range(iters):
        in_sum = {v: 0 for v in nodes}
        for s, t in set(edges):
            in_sum[t] += rank[s] // out[s]
        dangling = sum(rank[v] for v in nodes if v not in out)
        dshare = dangling // n
        rank = {v: base + (85 * (in_sum[v] + dshare)) // 100 for v in nodes}
    return rank


def test_pagerank_fixedpoint_oracle_and_close_to_float(spark, edges_df):
    got = {r["node"]: r["rank"]
           for r in pagerank_fixedpoint(edges_df, iterations=10).collect()}
    assert got == oracle_pagerank_fixedpoint(EDGES, iters=10)
    # ranks agree with the float recurrence to well under the
    # per-iteration floor-division loss (~iters * n / scale)
    flt = oracle_pagerank(EDGES, iters=10)
    for v, r in got.items():
        assert abs(r / 10**12 - flt[v]) < 1e-9, v


def oracle_k_hop(edges, sources, k):
    """BFS oracle: {node: (min_hops, distinct shortest-hop predecessors)}."""
    out = {}
    for s, t in edges:
        out.setdefault(s, set()).add(t)
    visited = {s: (0, 1) for s in sources}
    frontier = set(sources)
    for h in range(1, k + 1):
        preds = {}
        for u in frontier:
            for v in out.get(u, ()):
                if v not in visited:
                    preds.setdefault(v, set()).add(u)
        frontier = set(preds)
        for v, ps in preds.items():
            visited[v] = (h, len(ps))
        if not frontier:
            break
    return visited


def _khop_dict(df):
    return {r["node"]: (r["hops"], r["n_paths"]) for r in df.collect()}


def test_k_hop_fixture_graph(spark, edges_df):
    src = spark.createDataFrame([("a",)], "node string")
    got = _khop_dict(k_hop(edges_df, src, k=2))
    assert got == oracle_k_hop(EDGES, ["a"], 2)
    # k large enough to exhaust the graph == transitive closure
    got4 = _khop_dict(k_hop(edges_df, src, k=4))
    assert got4 == oracle_k_hop(EDGES, ["a"], 4)


def test_k_hop_fan_in_and_min_hops(spark):
    # diamond + chain: d is reachable at hop 2 via b AND c (fan-in 2);
    # b is hop-1 even though a longer a->c->?->b path could exist.
    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
             ("d", "e"), ("e", "b")]  # e->b: b must stay hop 1
    df = spark.createDataFrame(edges, "subj_id string, obj_id string")
    src = spark.createDataFrame([("a",)], "node string")
    got = _khop_dict(k_hop(df, src, k=4))
    assert got == oracle_k_hop(edges, ["a"], 4)
    assert got["d"] == (2, 2)   # fan-in via b and c
    assert got["b"] == (1, 1)   # min hop wins over the 4-hop path
    # multi-source: hop-1 fan-in counts distinct sources
    src2 = spark.createDataFrame([("b",), ("c",)], "node string")
    got2 = _khop_dict(k_hop(df, src2, k=1))
    assert got2 == oracle_k_hop(edges, ["b", "c"], 1)
    assert got2["d"] == (1, 2)


def oracle_triangles(edges):
    """Brute-force per-node triangle counts on the simple undirected
    graph (self loops and duplicate/reverse edges collapsed)."""
    from itertools import combinations

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in und for x in e})
    adj = {v: set() for v in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    out = {v: 0 for v in nodes}
    for u, v, w in combinations(nodes, 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            out[u] += 1
            out[v] += 1
            out[w] += 1
    return out


def test_triangle_count_matches_bruteforce(spark):
    """Degree-ordered triangle counting vs brute force on a seeded random
    graph with planted cliques (hub skew + duplicate/reverse/self edges
    in the input), plus a triangle-free chain staying all-zero."""
    import random

    from thesis_ner_co_tri_training_spark.plans.graph import triangle_count

    rng = random.Random(5)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(120)]
    edges += [(0, i) for i in range(1, 20)]        # hub
    for clique in ([40, 41, 42, 43], [50, 51, 52]):  # planted triangles
        edges += [(a, b) for a in clique for b in clique if a < b]
    edges += [(e[1], e[0]) for e in edges[:30]]    # reverse dups
    df = spark.createDataFrame(edges, "subj_id long, obj_id long")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == oracle_triangles(edges)
    assert got[40] == 3 and got[50] >= 1           # planted cliques found

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "subj_id long, obj_id long")
    assert all(r["n_triangles"] == 0
               for r in triangle_count(chain).collect())


def oracle_ppr_fixedpoint(edges, srcs, iters=10, scale=10**12):
    """Integer personalized-PageRank oracle: teleport + dangling mass to
    the source set only (uniform over members in the graph)."""
    nodes = sorted({x for e in edges for x in e})
    s = [v for v in nodes if v in set(srcs)]
    m = len(s)
    out = {}
    for a, _ in set(edges):
        out[a] = out.get(a, 0) + 1
    base = (15 * scale // 100) // m
    rank = {v: (scale // m if v in s else 0) for v in nodes}
    for _ in range(iters):
        in_sum = {v: 0 for v in nodes}
        for a, b in set(edges):
            in_sum[b] += rank[a] // out[a]
        dangling = sum(rank[v] for v in nodes if v not in out)
        dshare = dangling // m
        rank = {
            v: (base if v in s else 0)
            + (85 * (in_sum[v] + (dshare if v in s else 0))) // 100
            for v in nodes
        }
    return rank


def test_personalized_pagerank_fixedpoint(spark, edges_df):
    from thesis_ner_co_tri_training_spark.plans.graph import (
        pagerank_fixedpoint)

    srcs = spark.createDataFrame([("a",), ("zzz_not_in_graph",)],
                                 "node string")
    got = {r["node"]: r["rank"]
           for r in pagerank_fixedpoint(edges_df, iterations=10,
                                        sources=srcs).collect()}
    assert got == oracle_ppr_fixedpoint(EDGES, ["a"], iters=10)
    # mass concentrates at/downstream of the seed, not its inverse image
    assert got["a"] > 0 and max(got.values()) > 0
    # sources=None must remain byte-identical to the global twin
    glob = {r["node"]: r["rank"]
            for r in pagerank_fixedpoint(edges_df, iterations=10).collect()}
    assert glob == oracle_pagerank_fixedpoint(EDGES, iters=10)


def test_shortest_paths_bounded_bellman_ford(spark):
    """Exact vs a pure-Python bounded Bellman-Ford: min weight over
    paths of <= k edges, multiple sources, parallel edges collapsed to
    min weight, heavier-but-shorter vs lighter-but-longer routes."""
    from thesis_ner_co_tri_training_spark.plans.graph import shortest_paths

    edges = [  # (u, v, w)
        ("a", "b", 5), ("a", "b", 9),     # parallel -> min 5
        ("a", "c", 1), ("c", "b", 1),     # a->b via c costs 2 (2 edges)
        ("b", "d", 1),
        ("e", "f", 2),                    # second source island
        ("x", "y", 3),                    # unreachable from sources
    ]
    srcs = [("a",), ("e",)]
    for k in (1, 2, 3):
        ref: dict[str, int] = {s: 0 for (s,) in srcs}
        cur = dict(ref)
        emin: dict[tuple, int] = {}
        for u, v, w in edges:
            emin[(u, v)] = min(w, emin.get((u, v), w))
        for _ in range(k):
            nxt = dict(cur)
            for (u, v), w in emin.items():
                if u in cur and cur[u] + w < nxt.get(v, 1 << 60):
                    nxt[v] = cur[u] + w
            cur = nxt
        got = {
            r.node: r.dist
            for r in shortest_paths(
                spark.createDataFrame(edges, "u string, v string, w long"),
                spark.createDataFrame(srcs, "node string"),
                iterations=k, src="u", dst="v", weight="w").collect()
        }
        assert got == cur, k
    # k=2 must prefer the 2-edge route a->c->b (cost 2) over direct 5
    got2 = {
        r.node: r.dist
        for r in shortest_paths(
            spark.createDataFrame(edges, "u string, v string, w long"),
            spark.createDataFrame(srcs, "node string"),
            iterations=2, src="u", dst="v", weight="w").collect()
    }
    assert got2["b"] == 2


def test_shortest_paths_rejects_negative(spark):
    import pytest

    from thesis_ner_co_tri_training_spark.plans.graph import shortest_paths

    with pytest.raises(ValueError, match="negative"):
        shortest_paths(
            spark.createDataFrame([("a", "b", -1)], "u string, v string, w long"),
            spark.createDataFrame([("a",)], "node string"),
            iterations=2, src="u", dst="v", weight="w")


def test_label_propagation_two_communities(spark):
    """Two 4-cliques joined by one bridge edge: LPA assigns one label
    per clique; the bridge does not merge them (each side's internal
    MAJORITY beats the single cross vote — note a triangle would NOT
    suffice: with tied counts the min tiebreak lets the bridge label
    flood). Sync rounds + min tiebreak => deterministic."""
    from itertools import combinations

    from thesis_ner_co_tri_training_spark.plans.graph import (
        label_propagation)

    a = [f"a{i}" for i in range(1, 5)]
    b = [f"b{i}" for i in range(1, 5)]
    cl = list(combinations(a, 2)) + list(combinations(b, 2))
    bridge = [("a1", "b1")]
    df = spark.createDataFrame(cl + bridge, "s string, o string")
    out = {r.node: r.label
           for r in label_propagation(df, iterations=5,
                                      src="s", dst="o").collect()}
    assert len(out) == 8
    a_labels = {out[n] for n in a}
    b_labels = {out[n] for n in b}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels
    # rerun -> identical (determinism)
    out2 = {r.node: r.label
            for r in label_propagation(df, iterations=5,
                                       src="s", dst="o").collect()}
    assert out == out2


def test_random_walks_deterministic_and_correct(spark):
    """Walks vs a pure-Python replay of the same hash-argmin rule:
    fan-out choice, dead-end stop, full-length walk."""
    import hashlib

    from thesis_ner_co_tri_training_spark.plans.graph import random_walks

    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "a"), ("d", "e")]
    # node e is a sink; walks from d hit it at step 2 and stop
    df = spark.createDataFrame(edges, "s string, o string")
    out = {r.start: (r.path, r.n_nodes)
           for r in random_walks(df, walk_len=3, src="s", dst="o",
                                 seed=7).collect()}

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    adj = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    expect = {}
    for start in sorted(adj):
        cur, path, n = start, start, 1
        for i in range(1, 4):
            nbrs = adj.get(cur)
            if not nbrs:
                break
            cur = min(nbrs, key=lambda v: (md5_long(f"{start}|7|{i}|{v}"), v))
            path += ">" + cur
            n += 1
        expect[start] = (path, n)
    assert out == expect
    # dead-end walk is shorter than walk_len + 1
    assert out["d"][1] < 4
    # determinism across runs
    out2 = {r.start: (r.path, r.n_nodes)
            for r in random_walks(df, walk_len=3, src="s", dst="o",
                                  seed=7).collect()}
    assert out == out2


def test_hits_fixedpoint_replay_and_semantics(spark):
    """hits_fixedpoint vs a pure-Python replay of the same integer
    recurrence, plus Kleinberg semantics: a page linking to every
    authority is the top hub, a page linked by every hub the top
    authority."""
    from thesis_ner_co_tri_training_spark.plans.graph import hits_fixedpoint

    # hubs h1,h2 both point at authorities x,y; h1 also points at z
    edges = [("h1", "x"), ("h1", "y"), ("h1", "z"),
             ("h2", "x"), ("h2", "y")]
    df = spark.createDataFrame(edges, "s string, o string")
    out = {r.node: (r.hub, r.authority)
           for r in hits_fixedpoint(df, iterations=6, src="s",
                                    dst="o").collect()}

    scale = 10**6
    nodes = sorted({u for e in edges for u in e})
    h = {u: scale for u in nodes}
    for _ in range(6):
        ar = {u: sum(h[s] for s, d in edges if d == u) for u in nodes}
        t = sum(ar.values())
        a = {u: ar[u] * scale // t for u in nodes}
        hr = {u: sum(a[d] for s, d in edges if s == u) for u in nodes}
        t = sum(hr.values())
        h = {u: hr[u] * scale // t for u in nodes}
    assert out == {u: (h[u], a[u]) for u in nodes}

    hubs = {u: v[0] for u, v in out.items()}
    auths = {u: v[1] for u, v in out.items()}
    assert max(hubs, key=hubs.get) == "h1"          # links to all three
    assert hubs["x"] == 0 and auths["h1"] == 0      # pure sink / source
    assert auths["x"] == auths["y"] > auths["z"]    # two hubs vs one


def test_shortest_paths_rejects_null_weights(spark):
    """NULL weights pass a `w < 0` filter (3-valued logic) and would
    surface as (node, NULL) rows against the absent-if-unreachable
    contract — they must be rejected like negatives."""
    import pytest

    from thesis_ner_co_tri_training_spark.plans.graph import shortest_paths

    with pytest.raises(ValueError, match="NULL"):
        shortest_paths(
            spark.createDataFrame([("a", "b", None), ("b", "c", 1)],
                                  "u string, v string, w long"),
            spark.createDataFrame([("a",)], "node string"),
            iterations=2, src="u", dst="v", weight="w")


def test_hits_fixedpoint_rejects_zero_iterations(spark):
    import pytest

    from thesis_ner_co_tri_training_spark.plans.graph import hits_fixedpoint

    with pytest.raises(ValueError, match="iterations"):
        hits_fixedpoint(
            spark.createDataFrame([("a", "b")], "s string, o string"),
            iterations=0, src="s", dst="o")


def test_hits_fixedpoint_survives_high_degree_hub(spark):
    """The DECIMAL(38,0) normalization must survive first-iteration
    magnitudes where BIGINT x*scale would overflow. A synthetic check
    at the arithmetic level: scores near 2^63 / scale boundaries keep
    exact integer semantics (full graph-scale in_deg > 9e6 is too big
    for a unit test; the expression path is identical)."""
    from pyspark.sql import functions as F

    # x * 10**6 with x near BIGINT max: decimal path exact, matches python
    big = 9223372036854775807 // 2
    r = spark.range(1).select(
        F.expr(f"CAST(CAST({big} AS DECIMAL(38,0)) * 1000000 "
               f"DIV {big + 7} AS BIGINT)").alias("v")).collect()[0]["v"]
    assert r == (big * 1000000) // (big + 7)


def test_pagerank_collapses_duplicate_edges(spark):
    """PageRank's contract is over the simple digraph: duplicate (src,
    dst) rows (one per supporting evidence in a KG edges table) must not
    multigraph-weight the ranks."""
    dup = spark.createDataFrame(
        [("a", "b")] * 5 + [("a", "c"), ("c", "b")],
        "s string, o string")
    simple = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("c", "b")], "s string, o string")
    ranks = [{r.node: r.rank for r in
              pagerank_fixedpoint(df, iterations=5, src="s",
                                  dst="o").collect()}
             for df in (dup, simple)]
    assert ranks[0] == ranks[1]


def _tarjan_scc(edges):
    """Iterative Tarjan replay: node -> min member of its SCC."""
    from collections import defaultdict

    adj = defaultdict(list)
    nodes = set()
    for u, v in edges:
        if u != v:
            adj[u].append(v)
            nodes.update((u, v))
    index, low, onstack, stack = {}, {}, set(), []
    sccs, counter = [], [0]

    def strongconnect(root):
        work = [(root, iter(adj[root]))]
        index[root] = low[root] = counter[0]; counter[0] += 1
        stack.append(root); onstack.add(root)
        while work:
            u, it = work[-1]
            advanced = False
            for v in it:
                if v not in index:
                    index[v] = low[v] = counter[0]; counter[0] += 1
                    stack.append(v); onstack.add(v)
                    work.append((v, iter(adj[v])))
                    advanced = True
                    break
                elif v in onstack:
                    low[u] = min(low[u], index[v])
            if advanced:
                continue
            work.pop()
            if work:
                low[work[-1][0]] = min(low[work[-1][0]], low[u])
            if low[u] == index[u]:
                comp = []
                while True:
                    w = stack.pop(); onstack.discard(w); comp.append(w)
                    if w == u:
                        break
                sccs.append(comp)

    for n in sorted(nodes):
        if n not in index:
            strongconnect(n)
    return {n: min(c) for c in sccs for n in c}


def test_scc_matches_tarjan(spark):
    """strongly_connected_components == Tarjan on a graph mixing
    multi-node cycles, chains, a DAG shortcut and a nested 2-cycle."""
    from thesis_ner_co_tri_training_spark.plans.graph import (
        strongly_connected_components)

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),          # 3-cycle
        ("c", "d"), ("d", "e"),                      # chain off it
        ("e", "f"), ("f", "g"), ("g", "f"),          # 2-cycle downstream
        ("h", "i"), ("i", "j"), ("j", "k"), ("k", "h"),  # 4-cycle
        ("a", "h"),                                  # DAG edge between SCCs
        ("x", "y"),                                  # isolated chain
        ("z", "z"),                                  # self-loop (dropped)
    ]
    df = spark.createDataFrame(edges, "subj_id string, obj_id string")
    got = {r.node: r.scc_id
           for r in strongly_connected_components(df).collect()}
    want = _tarjan_scc(edges)
    assert got == want
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["f"] == got["g"] == "f"
    assert got["h"] == got["k"] == "h"
    assert got["d"] == "d" and got["x"] == "x"
    assert "z" not in got  # self-loop-only node has no edges after drop


def test_scc_random_digraph_matches_tarjan(spark):
    """Randomized (seeded) sparse digraph vs Tarjan — exercises multi-
    round peeling where color classes span several SCCs."""
    import random

    from thesis_ner_co_tri_training_spark.plans.graph import (
        strongly_connected_components)

    rng = random.Random(427)
    n = 60
    edges = [(f"n{rng.randrange(n):02d}", f"n{rng.randrange(n):02d}")
             for _ in range(150)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "subj_id string, obj_id string")
    got = {r.node: r.scc_id
           for r in strongly_connected_components(df).collect()}
    assert got == _tarjan_scc(edges)


def test_scc_empty(spark):
    from thesis_ner_co_tri_training_spark.plans.graph import (
        strongly_connected_components)

    df = spark.createDataFrame([], "subj_id string, obj_id string")
    assert strongly_connected_components(df).count() == 0


def test_scc_descending_chain_trims_fast(spark):
    """Worst case for pivot peeling (descending-id path: one pivot SCC
    per coloring round, O(n) expensive rounds without trimming) — the
    trim step must absorb it. max_rounds=3 proves trimming does the
    work, not peeling."""
    from thesis_ner_co_tri_training_spark.plans.graph import (
        strongly_connected_components)

    n = 40
    edges = [(f"n{n - i:03d}", f"n{n - i - 1:03d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, "subj_id string, obj_id string")
    got = {r.node: r.scc_id
           for r in strongly_connected_components(df, max_rounds=3).collect()}
    assert got == {f"n{i:03d}": f"n{i:03d}" for i in range(1, n + 1)}


def test_scc_descending_chain_of_cycles(spark):
    """Trim-resistant worst case: a descending chain OF 2-cycles (every
    node keeps in+out edges, so trim removes nothing and peeling pace is
    one cycle per round) — correctness over many outer rounds."""
    from thesis_ner_co_tri_training_spark.plans.graph import (
        strongly_connected_components)

    k = 12  # 12 cycles, descending ids -> 12 peeling rounds
    edges = []
    for c in range(k):
        a, b = f"c{k - c:02d}a", f"c{k - c:02d}b"
        edges += [(a, b), (b, a)]
        if c + 1 < k:
            edges.append((a, f"c{k - c - 1:02d}a"))
    df = spark.createDataFrame(edges, "subj_id string, obj_id string")
    got = {r.node: r.scc_id
           for r in strongly_connected_components(df).collect()}
    assert got == _tarjan_scc(edges)
    for c in range(1, k + 1):
        assert got[f"c{c:02d}b"] == f"c{c:02d}a"


def test_scc_condensation_matches_replay(spark):
    """Condensation == the Tarjan-derived rollup (distinct collapsed
    edge counts, intra-SCC edges dropped) and is acyclic."""
    from collections import Counter

    from thesis_ner_co_tri_training_spark.plans.graph import scc_condensation

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),          # SCC {a,b,c}
        ("c", "d"), ("a", "d"),                      # two edges -> d
        ("d", "e"), ("e", "f"), ("f", "g"), ("g", "f"),  # SCC {f,g}
        ("b", "d"),                                  # third edge -> d
        ("g", "h"),
    ]
    df = spark.createDataFrame(edges, "subj_id string, obj_id string")
    got = {(r.src_scc, r.dst_scc): r.n_edges
           for r in scc_condensation(df).collect()}
    lab = _tarjan_scc(edges)
    want = Counter((lab[u], lab[v]) for u, v in set(edges)
                   if lab[u] != lab[v])
    assert got == dict(want)
    assert got[("a", "d")] == 3                      # a,b,c -> d collapsed
    # acyclic: no pair appears in both directions
    assert not any((b, a) in got for a, b in got)


def test_dag_levels_matches_replay(spark):
    """dag_longest_path_levels == brute-force longest-path DP, including
    a diamond (max over two path lengths) and a deep chain."""
    from functools import lru_cache

    from thesis_ner_co_tri_training_spark.plans.graph import (
        dag_longest_path_levels)

    edges = [
        ("a", "b"), ("b", "c"), ("c", "d"),       # chain depth 3
        ("a", "d"),                               # shortcut (loses to chain)
        ("d", "e"), ("x", "e"),                   # two sources converge
        ("e", "f"), ("f", "g"),
    ]
    df = spark.createDataFrame(edges, "src_scc string, dst_scc string")
    got = {r.node: r.level for r in dag_longest_path_levels(df).collect()}

    from collections import defaultdict
    preds = defaultdict(list)
    nodes = set()
    for u, v in edges:
        preds[v].append(u)
        nodes.update((u, v))

    @lru_cache(maxsize=None)
    def level(v):
        return 0 if not preds[v] else 1 + max(level(u) for u in preds[v])

    assert got == {v: level(v) for v in nodes}
    assert got["d"] == 3 and got["e"] == 4 and got["g"] == 6
    assert got["a"] == 0 and got["x"] == 0


def test_dag_levels_rejects_cycles(spark):
    import pytest

    from thesis_ner_co_tri_training_spark.plans.graph import (
        dag_longest_path_levels)

    df = spark.createDataFrame([("a", "b"), ("b", "a")],
                               "src_scc string, dst_scc string")
    with pytest.raises(RuntimeError, match="cyclic"):
        dag_longest_path_levels(df, max_iter=6)


def test_scc_condensation_feeds_levels(spark):
    """End-to-end: cyclic graph -> condensation -> layering; the cycle
    collapses and the condensed DAG layers cleanly."""
    from thesis_ner_co_tri_training_spark.plans.graph import (
        dag_longest_path_levels, scc_condensation)

    edges = [("a", "b"), ("b", "a"),              # SCC {a,b}
             ("b", "c"), ("c", "d"), ("d", "e"),
             ("e", "c")]                          # SCC {c,d,e}
    df = spark.createDataFrame(edges, "subj_id string, obj_id string")
    cond = scc_condensation(df)
    got = {r.node: r.level for r in dag_longest_path_levels(cond).collect()}
    assert got == {"a": 0, "c": 1}


def test_scc_completes_in_exactly_max_rounds(spark):
    """Peel finishing in exactly max_rounds must NOT raise (for-else
    off-by-one regression): one 2-cycle resolves in a single round."""
    from thesis_ner_co_tri_training_spark.plans.graph import (
        strongly_connected_components)

    df = spark.createDataFrame([("a", "b"), ("b", "a")],
                               "subj_id string, obj_id string")
    got = {r.node: r.scc_id
           for r in strongly_connected_components(df, max_rounds=1).collect()}
    assert got == {"a": "a", "b": "a"}


# ------------------------------------------------------------------ k-core


def _peel_coreness(edges):
    """Pure-Python coreness oracle: classic sequential min-degree peel
    over the undirected simple graph (self-loops dropped)."""
    adj = {}
    for a, b in edges:
        if a == b or a is None or b is None:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    alive = set(adj)
    core, k = {}, 0
    while alive:
        k = max(k, min(deg[v] for v in alive))
        stack = [v for v in alive if deg[v] <= k]
        while stack:
            v = stack.pop()
            if v not in alive:
                continue
            alive.discard(v)
            core[v] = k
            for u in adj[v]:
                if u in alive:
                    deg[u] -= 1
                    if deg[u] <= k:
                        stack.append(u)
    return core


def test_kcore_matches_peel_hand_graph(spark):
    """K4 (core 3) + tail (core 1) + triangle (core 2); a self-loop-only
    node is dropped like SCC drops it; direction and duplicate edges
    must not matter."""
    from thesis_ner_co_tri_training_spark.plans.graph import kcore

    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
             ("c", "d"),
             ("d", "e"), ("e", "f"),
             ("x", "y"), ("y", "z"), ("x", "z"),
             ("z", "y"),            # reverse duplicate -> collapses
             ("p", "p")]            # self-loop-only node -> absent
    df = spark.createDataFrame(edges, "subj_id string, obj_id string")
    got = {r["node"]: r["core"] for r in kcore(df).collect()}
    want = _peel_coreness(edges)
    assert got == want
    assert got["a"] == 3 and got["f"] == 1 and got["x"] == 2
    assert "p" not in got


def test_kcore_matches_peel_random_graphs(spark):
    import random

    from thesis_ner_co_tri_training_spark.plans.graph import kcore

    for seed in (1, 2, 7):
        rnd = random.Random(seed)
        n = 60
        edges = list({(f"n{rnd.randrange(n)}", f"n{rnd.randrange(n)}")
                      for _ in range(240)})
        df = spark.createDataFrame(edges, "subj_id string, obj_id string")
        got = {r["node"]: r["core"] for r in kcore(df).collect()}
        assert got == _peel_coreness(edges), f"seed {seed}"


def test_kcore_max_rounds_exact_and_raise(spark):
    """Fixpoint reached in exactly max_rounds must not raise (the SCC
    for-else regression class); one round fewer must raise. A 2-path's
    h-index iteration: deg=(1,2,1) -> (1,1,1) [changed] -> (1,1,1)
    [fixpoint detected], so it needs exactly 2 rounds."""
    from thesis_ner_co_tri_training_spark.plans.graph import kcore

    df = spark.createDataFrame([("a", "b"), ("b", "c")],
                               "subj_id string, obj_id string")
    got = {r["node"]: r["core"] for r in kcore(df, max_rounds=2).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}
    with pytest.raises(RuntimeError):
        kcore(df, max_rounds=1)


def test_kcore_checkpoint_every_zero_disables(spark):
    """checkpoint_every=0 means 'never checkpoint' (the 0=disable
    convention the jobs establish), not ZeroDivisionError."""
    from thesis_ner_co_tri_training_spark.plans.graph import kcore

    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")],
                               "subj_id string, obj_id string")
    got = {r["node"]: r["core"]
           for r in kcore(df, checkpoint_every=0).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
