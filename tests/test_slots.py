"""The slot scope (slots.slot): the one way the engine persists and
releases an intermediate relation, and where the AQE cache pin binds."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark import StorageLevel

from etl_pipeline_sam_gov_spark.plans.introspect import cache_pins
from etl_pipeline_sam_gov_spark.slots import PIN_CONF, release, session_slots, slot

PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_pipeline_sam_gov_spark"


def test_scope_exception_keeps_claim_and_restores_pin(spark):
    """A build that raises after its first ``keep`` leaves the kept
    relation claimed in the slot (the next call releases it; no cache
    entry is orphaned) and the pin conf back at its prior value."""
    prior = spark.conf.get(PIN_CONF)
    with pytest.raises(RuntimeError, match="mid-build"):
        with slot(spark, "scope_test", adaptive=True) as keep:
            kept = keep(spark.range(40).repartition(3, "id"))
            assert spark.conf.get(PIN_CONF) == "true"
            raise RuntimeError("mid-build")
    assert spark.conf.get(PIN_CONF) == prior
    assert session_slots(spark)["scope_test"] == (kept,)
    assert kept.storageLevel != StorageLevel.NONE
    assert cache_pins(kept) == [True]
    release(spark, "scope_test")
    assert kept.storageLevel == StorageLevel.NONE


def test_scope_releases_previous_and_drops_early(spark):
    """Entering the scope releases what the key held; ``keep.drop``
    unpersists one relation and takes it out of the slot."""
    with slot(spark, "scope_test") as keep:
        old = keep(spark.range(10))
    with slot(spark, "scope_test") as keep:
        assert old.storageLevel == StorageLevel.NONE
        a, b = keep(spark.range(11)), keep(spark.range(12))
        keep.drop(a)
    assert a.storageLevel == StorageLevel.NONE
    assert session_slots(spark)["scope_test"] == (b,)
    assert cache_pins(b) == [False]
    release(spark, "scope_test")


def test_bpe_tags_keep_their_own_caches(spark, sf_dir):
    """The two BPE queries build their vocabulary chains under their own
    slot keys and pins. Built encode first, merges still caches its
    rounds under its own ``adaptive=True`` pin, and releasing either
    tag leaves the other's caches in place."""
    from etl_pipeline_sam_gov_spark.operators import bpe

    encode = bpe.text_bpe_encode(spark, sf_dir)
    merges = bpe.text_bpe_merge_rounds(spark, sf_dir)
    merge_pins, encode_pins = cache_pins(merges), cache_pins(encode)
    assert merge_pins and set(merge_pins) == {True}
    assert encode_pins and set(encode_pins) == {False}
    release(spark, ("bpe", "encode"))
    assert cache_pins(merges) == merge_pins
    encode = bpe.text_bpe_encode(spark, sf_dir)
    release(spark, ("bpe", "merges"))
    assert cache_pins(encode) == encode_pins
    release(spark, ("bpe", "encode"))


def test_only_slots_persists():
    """Every persist, unpersist and pin-conf write in the package goes
    through slots.py, so the release-before-persist rule and the AQE pin
    cannot be bypassed by a new call site."""
    banned = re.compile(
        r"\.persist\(|\.unpersist\(|canChangeCachedPlanOutputPartitioning"
    )
    hits = [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "slots.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, "\n".join(hits)


def test_only_session_and_slots_write_confs():
    """Session confs are written only where a session is set up
    (session.py: the builder, configure_runtime, the stream session) and
    by the AQE pin scope (slots.py). No query builder changes session
    state behind its caller."""
    banned = re.compile(r"conf\.(un)?set\(")
    hits = [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name not in ("session.py", "slots.py")
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, "\n".join(hits)
