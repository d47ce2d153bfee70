import numpy as np

import pool
import sets


def test_pick_is_seeded_distinct_and_in_range():
    a = pool.pick(7, 6)
    assert a == pool.pick(7, 6)
    assert a != pool.pick(8, 6)
    assert len(set(a)) == 6
    assert all(0 <= c < pool.CHUNKS for c in a)


def test_chunk_ids_follow_chunk_order():
    ids = pool.chunk_ids([2, 0])
    n = pool.CHUNK_ROWS
    assert np.array_equal(ids[:n], np.arange(2 * n, 3 * n))
    assert np.array_equal(ids[n:], np.arange(0, n))


def test_seed_ranges_and_quartile_spread():
    assert sets.seeds("101-103,7") == [101, 102, 103, 7]
    # quartiles of 1..9 by statistics.quantiles (exclusive): 2.5, 5, 7.5
    assert sets.spread(range(1, 10)) == (7.5 - 2.5) / 5
