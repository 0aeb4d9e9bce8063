"""Connected-components clustering over planted pair graphs with known
components (chains, isolated nodes, merging clusters), and against a
breadth-first reference on a seeded random graph."""

import random
from collections import deque

import pytest

from database_anonymiser_minimiser_spark.operators.dedup import connected_components


def cc(spark, pair_list, id_list):
    pairs = spark.createDataFrame(pair_list, ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in id_list], ["id"])
    return {
        r["id"]: r["cluster_id"] for r in connected_components(pairs, ids).collect()
    }


def test_chain_collapses_to_one_cluster(spark):
    # 0-1, 1-2, 2-3: transitive chain, min id 0 everywhere
    got = cc(spark, [(0, 1), (1, 2), (2, 3)], [0, 1, 2, 3, 9])
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 9: 9}  # 9 isolated


def test_two_components(spark):
    got = cc(spark, [(1, 2), (5, 6), (6, 7)], [1, 2, 5, 6, 7])
    assert got == {1: 1, 2: 1, 5: 5, 6: 5, 7: 5}


def test_long_chain_converges(spark):
    # diameter 10 chain: every node takes the far end's id
    n = 10
    got = cc(spark, [(i, i + 1) for i in range(n)], list(range(n + 1)))
    assert set(got.values()) == {0}


def test_empty_pairs_all_singletons(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    got = {r["id"]: r["cluster_id"] for r in connected_components(pairs, ids).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


@pytest.mark.parametrize("n", [30, 100, 1000])
def test_shuffled_path_is_one_cluster_keyed_by_min_id(spark, n):
    # a path of n - 1 hops, ids shuffled along it; the minimum sits at
    # one end, so its id has to reach the node n - 1 hops away
    ids = random.Random(n).sample(range(1000, 1000 + 50 * n), n)
    low = ids.index(min(ids))
    ids[0], ids[low] = ids[low], ids[0]
    got = cc(spark, list(zip(ids, ids[1:])), ids)
    assert got == {i: min(ids) for i in ids}


def _bfs_clusters(pair_list, id_list):
    adj = {i: [] for i in id_list}
    for a, b in pair_list:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    out = {}
    for start in adj:
        if start in out:
            continue
        seen, queue = {start}, deque([start])
        while queue:
            for nb in adj[queue.popleft()]:
                if nb not in seen:
                    seen.add(nb)
                    queue.append(nb)
        out.update(dict.fromkeys(seen, min(seen)))
    return out


def test_random_graph_matches_bfs_reference(spark):
    rng = random.Random(11)
    id_list = rng.sample(range(10_000), 600)
    pair_list = [tuple(rng.sample(id_list, 2)) for _ in range(450)]
    assert cc(spark, pair_list, id_list) == _bfs_clusters(pair_list, id_list)


def test_duplicate_and_reversed_edges(spark):
    pair_list = [(4, 8), (8, 4), (4, 8), (8, 6), (6, 8), (6, 6), (3, 2), (2, 3)]
    got = cc(spark, pair_list, [2, 3, 4, 6, 8, 11])
    assert got == {2: 2, 3: 2, 4: 4, 6: 4, 8: 4, 11: 11}


def test_integer_ids_keep_singletons(spark):
    pairs = spark.createDataFrame([(7, 5), (5, 9)], "id_a int, id_b int")
    ids = spark.createDataFrame([(i,) for i in (5, 7, 9, 2, 40)], "id int")
    out = connected_components(pairs, ids)
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["int", "int"]
    got = {r["id"]: r["cluster_id"] for r in out.collect()}
    assert got == {5: 5, 7: 5, 9: 5, 2: 2, 40: 40}


def test_without_ids_labels_only_touched_nodes(spark):
    pairs = spark.createDataFrame(
        [(4, 8), (8, 6), (3, 2), (2, 3)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {2: 2, 3: 2, 4: 4, 6: 4, 8: 4}


def test_without_ids_matches_bfs_on_touched_nodes(spark):
    rng = random.Random(5)
    id_list = rng.sample(range(10_000), 400)
    pair_list = [tuple(rng.sample(id_list, 2)) for _ in range(250)]
    touched = {i for p in pair_list for i in p}
    pairs = spark.createDataFrame(pair_list, ["id_a", "id_b"])
    got = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    want = _bfs_clusters(pair_list, id_list)
    assert got == {i: want[i] for i in touched}
