"""The LSH bucket self-join against a brute-force Python reference.

``minhash_lsh_candidates`` and ``simhash_near_dups`` must emit exactly
the id pairs that share a bucket (``id_a < id_b``), over buckets of at
most ``max_bucket_size`` rows, where rows with a NULL id count toward a
bucket's size but never pair. Inputs cover NULL ids, duplicate ids,
string ids, a bucket of exactly ``max_bucket_size`` rows, one of
``max_bucket_size + 1`` rows, and no cap at all.
"""

from __future__ import annotations

import itertools
import random
from collections import Counter, defaultdict

import pytest

CAP = 4


def _reference_pairs(bucket_rows, max_bucket_size):
    """{(id_a, id_b)} from (bucket key, id) rows: every pair sharing a
    bucket, ids ordered, over buckets of at most ``max_bucket_size``
    rows (NULL ids count, never pair)."""
    members = defaultdict(list)
    for key, i in bucket_rows:
        members[key].append(i)
    pairs = set()
    for ids in members.values():
        if max_bucket_size and len(ids) > max_bucket_size:
            continue
        for a, b in itertools.combinations([i for i in ids if i is not None], 2):
            if a != b:
                pairs.add((min(a, b), max(a, b)))
    return pairs, Counter(len(ids) for ids in members.values())


def _ids(kind):
    """Map an int id to the id type under test; None stays NULL."""
    if kind == "long":
        return lambda i: i
    return lambda i: None if i is None else f"d{i:03d}"


# ---------------------------------------------------------------------------
# minhash: bucket key = (band, the band's signature values)
# ---------------------------------------------------------------------------

BANDS, ROWS = 2, 2


def _minhash_rows():
    """(id, sig) rows: band 0 of (100, 100) holds exactly CAP rows, band 0
    of (200, 200) holds CAP + 1 rows of which one has a NULL id, id 9 is
    duplicated, and seeded filler collides on a small value domain."""
    rows = [(i, [100, 100, 10 + i, 20 + i]) for i in range(4)]
    rows += [(i, [200, 200, 30 + i, 40 + i]) for i in range(4, 8)]
    rows += [(None, [200, 200, 7, 7])]
    rows += [(8, [50, 51, 34, 44])]  # shares band 1 with id 4
    rows += [(9, [400, 400, 500, 500]), (9, [400, 400, 600, 600]), (10, [400, 400, 1, 2])]
    rng = random.Random(7)
    rows += [
        (11 + k, [rng.randrange(3), rng.randrange(3), rng.randrange(3), rng.randrange(3)])
        for k in range(24)
    ]
    return rows


@pytest.mark.parametrize("max_bucket_size", [CAP, None])
@pytest.mark.parametrize("id_kind", ["long", "string"])
def test_minhash_lsh_candidates_match_reference(spark, id_kind, max_bucket_size):
    from datapact_spark.operators.dedup import minhash_lsh_candidates

    to_id = _ids(id_kind)
    rows = [(to_id(i), sig) for i, sig in _minhash_rows()]
    sigs = spark.createDataFrame(
        rows, f"id {'bigint' if id_kind == 'long' else 'string'}, sig array<bigint>"
    )
    bucket_rows = [
        ((b, tuple(sig[b * ROWS:(b + 1) * ROWS])), i) for i, sig in rows for b in range(BANDS)
    ]
    want, sizes = _reference_pairs(bucket_rows, max_bucket_size)
    assert sizes[CAP] and sizes[CAP + 1]  # both edge buckets are present
    got = minhash_lsh_candidates(sigs, BANDS, ROWS, max_bucket_size).collect()
    assert len(got) == len(want)
    assert {(r["id_a"], r["id_b"]) for r in got} == want
    # the CAP-row bucket pairs; the CAP+1-row one (NULL id) only without a cap
    assert (to_id(0), to_id(3)) in want
    assert ((to_id(4), to_id(7)) in want) == (max_bucket_size is None)


# ---------------------------------------------------------------------------
# simhash: bucket key = (segment index, segment bits); Hamming post-filter
# ---------------------------------------------------------------------------

MAX_HAMMING, BITS = 3, 64
SEG = BITS // (MAX_HAMMING + 1)


def _sim(*segs):
    return sum(s << (k * SEG) for k, s in enumerate(segs))


def _simhash_rows():
    """(id, simhash) rows (non-negative, so shifts need no sign care):
    CAP rows sharing every segment but bit flips in segment 3, CAP + 1
    rows (one with a NULL id) likewise, a duplicated id, and seeded
    near-copies of random hashes."""
    rows = [(i, _sim(0x1111, 0x2222, 0x3333, 0x0400 | (1 << i))) for i in range(4)]
    rows += [(4 + i, _sim(0x5555, 0x6666, 0x7777, 0x0800 | (1 << i))) for i in range(4)]
    rows += [(None, _sim(0x5555, 0x6666, 0x7777, 0x0800))]
    rows += [(9, _sim(0xAAAA, 1, 2, 3)), (9, _sim(0xAAAA, 1, 2, 3)), (10, _sim(0xAAAA, 1, 2, 7))]
    rng = random.Random(11)
    for k in range(12):
        h = rng.getrandbits(BITS - 1)
        rows.append((20 + 2 * k, h))
        flips = rng.sample(range(BITS - 1), rng.randrange(1, 6))
        rows.append((21 + 2 * k, h ^ sum(1 << f for f in flips)))
    return rows


@pytest.mark.parametrize("max_bucket_size", [CAP, None])
@pytest.mark.parametrize("id_kind", ["long", "string"])
def test_simhash_near_dups_match_reference(spark, id_kind, max_bucket_size):
    from datapact_spark.operators.dedup import simhash_near_dups

    to_id = _ids(id_kind)
    rows = [(to_id(i), h) for i, h in _simhash_rows()]
    sim_df = spark.createDataFrame(
        rows, f"id {'bigint' if id_kind == 'long' else 'string'}, simhash bigint"
    )
    mask = (1 << SEG) - 1
    bucket_rows = [
        (((h >> (s * SEG)) & mask) + (s << 60), i)
        for i, h in rows for s in range(MAX_HAMMING + 1)
    ]
    shared, sizes = _reference_pairs(bucket_rows, max_bucket_size)
    assert sizes[CAP] and sizes[CAP + 1]
    hashes = defaultdict(set)
    for i, h in rows:
        hashes[i].add(h)
    # every duplicated id carries one hash, so each pair has one distance
    assert all(len(v) == 1 for v in hashes.values())
    ham = {
        (a, b): bin(next(iter(hashes[a])) ^ next(iter(hashes[b]))).count("1")
        for a, b in shared
    }
    want = {(a, b, d) for (a, b), d in ham.items() if d <= MAX_HAMMING}
    got = simhash_near_dups(sim_df, MAX_HAMMING, BITS, max_bucket_size).collect()
    assert len(got) == len(want)
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in got} == want
    assert (to_id(0), to_id(3), 2) in want
    assert ((to_id(4), to_id(7), 2) in want) == (max_bucket_size is None)
