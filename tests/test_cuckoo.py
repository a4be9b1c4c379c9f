"""Cuckoo-filter variant of the URL-seen sidecar (engine/cuckoo.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine import cuckoo
from engine import seen as seenmod


def _rand_hashes(n, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def test_roundtrip_no_false_negatives():
    items = _rand_hashes(20000, 1)
    table = cuckoo.new_table(8192)  # 32768 slots, 61% load
    stash = cuckoo.insert_many(table, np.array([], dtype=np.int64), items)
    assert cuckoo.probe_many(table, stash, items).all()


def test_fpr_below_bloom_equivalent():
    """16-bit fingerprints: FPR ~ 2*4/2^16 ~ 0.012% — far below the 5%
    bloom bound at comparable bits."""
    items = _rand_hashes(20000, 2)
    table = cuckoo.new_table(8192)
    stash = cuckoo.insert_many(table, np.array([], dtype=np.int64), items)
    probe = _rand_hashes(100000, 3)
    fresh = probe[~np.isin(probe, items)]
    fpr = cuckoo.probe_many(table, stash, fresh).mean()
    assert fpr < 0.005


def test_blob_serialization_roundtrip():
    items = _rand_hashes(1000, 5)
    table = cuckoo.new_table(1024)
    stash = cuckoo.insert_many(table, np.array([], dtype=np.int64), items)
    t2, s2 = cuckoo.from_blob(cuckoo.to_blob(table, stash), 1024)
    assert (t2 == table).all() and (s2 == stash).all()
    assert cuckoo.probe_many(t2, s2, items).all()


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_spark_filter_roundtrip_both_kinds(spark, kind):
    """init -> probe -> update -> probe through the Spark cogroup path;
    zero false negatives for both filter kinds.  The sparse key set seeds
    fewer parts than exist and updates fewer still: init_filter returns
    one row per part, an unseeded part's row is the empty blob at epoch 0,
    and update_filter leaves a part that received no hashes unchanged."""
    nbits, n_parts = 1 << 20, 4
    keys = spark.range(0, 20000).select(F.xxhash64("id").alias("url_hash"))
    new = spark.range(20000, 25000).select(F.xxhash64("id").alias("url_hash"))
    part = F.pmod("url_hash", F.lit(n_parts))
    inputs = [
        (keys, new, set(range(n_parts)), set(range(n_parts))),
        (keys.where(part < 2), new.where(part == 1), {0, 1}, {1}),
    ]
    for seed_keys, new_keys, seeded, touched in inputs:
        assert {r[0] for r in seed_keys.select(part).distinct().collect()} == seeded
        assert {r[0] for r in new_keys.select(part).distinct().collect()} == touched
        blobs = seenmod.init_filter(spark, seed_keys, n_parts=n_parts, nbits=nbits, kind=kind)
        blobs = blobs.persist()
        probed = seenmod.probe_filter(seed_keys, blobs, n_parts=n_parts)
        assert probed.where(~F.col("maybe_seen")).count() == 0  # no FNs
        blobs2 = seenmod.update_filter(blobs, new_keys, n_parts=n_parts, epoch=1)
        probed2 = seenmod.probe_filter(new_keys, blobs2, n_parts=n_parts)
        assert probed2.where(~F.col("maybe_seen")).count() == 0

        n_new = dict(new_keys.groupBy(part).count().collect())
        before = {r["part_id"]: r for r in blobs.collect()}
        after = {r["part_id"]: r for r in blobs2.collect()}
        assert len(before) == len(after) == n_parts
        assert set(before) == set(after) == set(range(n_parts))
        for p in range(n_parts):
            b, a = before[p], after[p]
            assert b["kind"] == a["kind"] == kind
            if p not in seeded:
                assert (b["n_items"], b["epoch"]) == (0, 0), p
                assert b["bits"] == seenmod._empty_blob(kind, nbits), p
            if p in touched:
                assert (a["n_items"], a["epoch"]) == (b["n_items"] + n_new[p], 1), p
            else:
                assert (a["n_items"], a["epoch"], a["bits"]) == (
                    b["n_items"], b["epoch"], b["bits"]
                ), p
        blobs.unpersist()


@pytest.mark.parametrize("op", ["probe", "update"])
def test_missing_blob_row_fails(spark, op):
    """A part with no blob row fails the job: hashes routed to it are
    neither dropped from the filter (update) nor routed as never seen past
    the exact D2 anti-join (probe)."""
    n_parts = 4
    keys = spark.range(0, 1000).select(F.xxhash64("id").alias("url_hash"))
    blobs = seenmod.init_filter(spark, keys, n_parts=n_parts, nbits=1 << 16)
    blobs = blobs.where(F.col("part_id") != 2)
    if op == "probe":
        out = seenmod.probe_filter(keys, blobs, n_parts=n_parts)
    else:
        out = seenmod.update_filter(blobs, keys, n_parts=n_parts, epoch=1)
    with pytest.raises(Exception, match="no blob row"):
        out.collect()


def test_non_pow2_nb_rejected():
    """alt = b XOR H(fp) is an involution only for power-of-two nb; any
    other nb silently produced false negatives (7/17000 at nb=7000 before
    the guard), and a seen-filter FN bypasses the exact D2 anti-join."""
    import pytest

    for nb in (7000, 6000, 3, 12):
        with pytest.raises(ValueError):
            cuckoo.new_table(nb)
    assert cuckoo.round_down_pow2(7000) == 4096
    assert cuckoo.round_down_pow2(4096) == 4096
    assert cuckoo.round_down_pow2(1) == 1


def test_no_false_negatives_at_derived_nb():
    """seen.py derives nb from an arbitrary public nbits arg: the pow2
    round-down must keep the no-FN guarantee for awkward nbits values."""
    from engine.seen import _empty_blob, _insert_blob, _probe_blob

    rng = np.random.default_rng(7)
    for nbits in ((1 << 22) - 8192, 7000 * 64, 6000 * 64):
        cap = cuckoo.buckets_for(nbits) * cuckoo.SLOTS
        items = rng.integers(-(2**62), 2**62, int(cap * 0.6), dtype=np.int64)
        blob = _insert_blob("cuckoo", nbits, 5, _empty_blob("cuckoo", nbits), items)
        assert _probe_blob("cuckoo", nbits, 5, blob, items).all(), nbits
