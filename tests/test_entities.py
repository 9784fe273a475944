"""Entity resolution (pipeline/entities.py): blocking semantics, the
block-size skew cap, verify threshold, and cluster closure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.pipeline.entities import (
    blocked_match_pairs,
    resolve_entities,
)


@pytest.fixture()
def records(spark):
    rows = [
        # block A: three near-identical names (chain: anna/anne/annie?)
        (1, "anna smith", "A"),
        (2, "anne smith", "A"),  # dist(anna, anne) = 1
        (3, "aNNa smith", "A"),  # case differs → dist 2 from anna
        # block B: identical names → dist 0
        (10, "bob jones", "B"),
        (11, "bob jones", "B"),
        # block C: singleton — can never pair
        (20, "carol king", "C"),
        # block D: same names as block B but a different block — must
        # NOT pair across blocks
        (30, "bob jones", "D"),
    ]
    return spark.createDataFrame(rows, ["rid", "name", "blk"])


def test_pairs_blocked_and_ordered(records):
    pairs = blocked_match_pairs(records, "rid", "name", ["blk"], max_dist=1)
    got = {(r.id_a, r.id_b, r.dist) for r in pairs.collect()}
    assert got == {(1, 2, 1), (10, 11, 0)}
    # id_a < id_b everywhere, and no cross-block (10/11 vs 30) pair
    assert all(a < b for a, b, _ in got)


def test_max_dist_widens_matches(records):
    pairs = blocked_match_pairs(records, "rid", "name", ["blk"], max_dist=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # case-variant joins at dist 2 (two case substitutions); anne↔aNNa
    # stays out at dist 3
    assert (1, 3) in got and (2, 3) not in got


def test_block_cap_drops_degenerate_block(records):
    # cap below block A's size (3) → block A contributes nothing;
    # block B (size 2) still pairs. The cap gates BEFORE pair expansion.
    pairs = blocked_match_pairs(
        records, "rid", "name", ["blk"], max_dist=1, max_block_size=2
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(10, 11)}


def test_resolve_entities_closure_and_singletons(records):
    ents = resolve_entities(records, "rid", "name", ["blk"], max_dist=2)
    m = {r.rid: r.entity_id for r in ents.collect()}
    # every record present, singletons map to themselves
    assert set(m) == {1, 2, 3, 10, 11, 20, 30}
    assert m[20] == 20 and m[30] == 30
    # block A chains to one entity labeled by the min id
    assert m[1] == m[2] == m[3] == 1
    assert m[10] == m[11] == 10


def test_array_plan_is_single_shuffle_pair_expansion(records):
    # the star mode's in-array expansion
    pairs = blocked_match_pairs(
        records, "rid", "name", ["blk"], max_dist=1, pair_mode="star"
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # one exchange (the blocking-key shuffle), no join operator at all
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_join_plan_reuses_one_exchange(records):
    # the default all-pairs expansion (round 12): ONE repartition
    # exchange on the struct blocking key, consumed by both sides of a
    # ShuffledHashJoin — no broadcast build-side re-derivation, no sort
    pairs = blocked_match_pairs(records, "rid", "name", ["blk"], max_dist=1)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" not in plan
    # both sides are the identical repartition subtree; after execution
    # AQE serves the second side from the first side's shuffle
    pairs.collect()
    final = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final or final.count("Exchange hashpartitioning") == 1


def _pair_set(df):
    return {(r.id_a, r.id_b, r.dist) for r in df.collect()}


def _levenshtein(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_join_pairs_match_brute_force(spark):
    # randomized reference: names built by applying 0-2 random
    # single-char edits to shared stems, several blocks (including a
    # NULL block key, which must group like groupBy does), checked
    # against every in-block pair with a plain Levenshtein DP
    import random
    from itertools import combinations

    rng = random.Random(7)
    alpha = "abcdefg"
    rows = []
    rid = 0
    for blk in ["X", "Y", None]:
        stems = ["".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))
                 for _ in range(4)]
        for stem in stems:
            for _ in range(rng.randint(1, 4)):
                s = stem
                for _ in range(rng.randint(0, 2)):
                    op = rng.choice("sid")
                    p = rng.randrange(len(s) + (op == "i"))
                    if op == "s" and s:
                        s = s[:p % len(s)] + rng.choice(alpha) + s[p % len(s) + 1:]
                    elif op == "i":
                        s = s[:p] + rng.choice(alpha) + s[p:]
                    elif s:
                        s = s[:p % len(s)] + s[p % len(s) + 1:]
                rows.append((rid, s, blk))
                rid += 1
    records = spark.createDataFrame(rows, "rid long, name string, blk string")
    blocks = {}
    for r, name, blk in rows:
        blocks.setdefault(blk, []).append((r, name))
    for d in (1, 2):
        want = set()
        for members in blocks.values():
            for (ia, na), (ib, nb) in combinations(sorted(members), 2):
                dist = _levenshtein(na, nb)
                if dist <= d:
                    want.add((ia, ib, dist))
        got = _pair_set(blocked_match_pairs(
            records, "rid", "name", ["blk"], max_dist=d
        ))
        assert got == want, f"max_dist={d}"


def test_join_expansion_complete_under_single_edits(spark):
    # every (stem, single-edit variant) pair must come out of the d=1
    # join expansion — exhaustive over edit positions
    import random

    rng = random.Random(11)
    alpha = "abcdef"
    rows, rid, expected = [], 0, set()
    for _ in range(25):
        stem = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 15)))
        variants = [stem]
        for p in range(len(stem) + 1):
            if p < len(stem):
                c = rng.choice([x for x in alpha if x != stem[p]])
                variants.append(stem[:p] + c + stem[p + 1:])   # substitution
                variants.append(stem[:p] + stem[p + 1:])        # deletion
            variants.append(stem[:p] + rng.choice(alpha) + stem[p:])  # insertion
        base = rid
        for v in variants:
            rows.append((rid, v, "B"))
            rid += 1
        for i in range(base + 1, rid):
            expected.add((base, i))  # stem ↔ each variant: dist ≤ 1
    records = spark.createDataFrame(rows, "rid long, name string, blk string")
    got = {(a, b) for a, b, _ in _pair_set(blocked_match_pairs(
        records, "rid", "name", ["blk"], max_dist=1, max_block_size=100_000
    ))}
    assert expected <= got


def test_star_mode_pairs_only_with_block_canonical(records):
    # all-pairs at dist 2 includes (2, 3); star keeps only pairs whose
    # left side is the block's minimum id
    allp = {
        (r.id_a, r.id_b)
        for r in blocked_match_pairs(
            records, "rid", "name", ["blk"], max_dist=2
        ).collect()
    }
    star = {
        (r.id_a, r.id_b)
        for r in blocked_match_pairs(
            records, "rid", "name", ["blk"], max_dist=2, pair_mode="star"
        ).collect()
    }
    assert star <= allp
    assert star == {(1, 2), (1, 3), (10, 11)}  # (2, 3) dropped: star
    # star output is linear: <= m-1 pairs per block
    assert all(a in (1, 10) for a, _ in star)


def test_star_mode_distances_match_all_pairs(records):
    allp = {
        (r.id_a, r.id_b): r.dist
        for r in blocked_match_pairs(
            records, "rid", "name", ["blk"], max_dist=2
        ).collect()
    }
    star = {
        (r.id_a, r.id_b): r.dist
        for r in blocked_match_pairs(
            records, "rid", "name", ["blk"], max_dist=2, pair_mode="star"
        ).collect()
    }
    for k, d in star.items():
        assert allp[k] == d
