"""Fixture-token discipline for every cross-call cache (round-11
VERDICT item 8): fixture parquet can be regenerated in place between
runs, and ``spark.catalog.clearCache()`` does not reach
module-level handles — so every data-derived cache goes through the
one owner, ``sources.fixtures.session_artifact``, whose key embeds the
fixture snapshot token (sources.fixtures.fixture_token: (mtime_ns,
size) of the backing parquet).

Two layers:
  1. a SOURCE SWEEP that finds every module-level mutable cache slot in
     the package and fails on any but the helper's store, and every
     ``session_artifact`` call site, so a new kind cannot ship without
     a key check below;
  2. a parameterized KEY CHECK over the helper's kinds: each is
     populated once through its real builder and every key must embed
     the current token of its backing table (test_fixture_token_
     invalidates_on_regen in test_dedup.py pins that the token itself
     moves on an in-place rewrite, so token-in-key == regen
     invalidates).
"""

from __future__ import annotations

import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "flight_events_flink_job_spark"


def _populate_registry(builder: str, *args):
    def populate(spark, sf_dir):
        from flight_events_flink_job_spark.plans import registry_ext

        getattr(registry_ext, builder)(spark, sf_dir, *args)

    return populate


def _populate_shared_flights(spark, sf_dir):
    from flight_events_flink_job_spark.sources.flight_adapter import (
        shared_flights,
    )

    shared_flights(spark, sf_dir)


def _populate_ccnet_scores(spark, sf_dir):
    from flight_events_flink_job_spark.plans import QUERIES

    QUERIES["ccnet_lm_buckets"](spark, sf_dir)


# helper kind -> (backing fixture table, the real builder that fills it)
KINDS = {
    "shared_flights": ("events", _populate_shared_flights),
    "inc_neardup_prelude": ("documents", _populate_registry("_inc_neardup_prelude")),
    "neardup_components": (
        "documents",
        _populate_registry("_neardup_components_cached"),
    ),
    "hier_model": ("embeddings", _populate_registry("_hier_model", 16)),
    "coarse_model": ("embeddings", _populate_registry("_coarse_model", 61)),
    "ivfpq_index": ("embeddings", _populate_registry("_ivfpq_index_cached", "raw")),
    "mips_pair_config": ("embeddings", _populate_registry("_mips_paired_config")),
    "ccnet_scores": ("documents", _populate_ccnet_scores),
}


def test_every_module_cache_is_classified():
    """Source sweep: the helper's store is the only module-level
    `_NAME = {}` / `_NAME = None` cache slot, and every kind passed to
    ``session_artifact`` has a key check in KINDS."""
    slot = re.compile(r"^(_[A-Z0-9_]+)(?::[^=]+)? = (?:\{\}|None)$", re.M)
    call = re.compile(r"session_artifact\(\s*spark,\s*\"(\w+)\"")
    slots, kinds = set(), set()
    for path in PKG.rglob("*.py"):
        text = path.read_text()
        rel = path.relative_to(PKG).as_posix()
        slots |= {(rel, m.group(1)) for m in slot.finditer(text)}
        kinds |= {m.group(1) for m in call.finditer(text)}
    assert slots == {("sources/fixtures.py", "_ARTIFACTS")}, (
        f"module-level caches outside sources.fixtures.session_artifact: "
        f"{sorted(slots)}"
    )
    assert kinds == set(KINDS), (
        f"session_artifact kinds without a key check: "
        f"{sorted(kinds - set(KINDS))}; stale: {sorted(set(KINDS) - kinds)}"
    )


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_token_keyed_cache_embeds_current_fixture_token(spark, sf_dir, kind):
    """Populate the cache through its real builder, then require every
    key of this kind for this sf_dir to embed the CURRENT fixture token
    of its backing table — with the token pinned to move on in-place
    regen (test_fixture_token_invalidates_on_regen), token-in-key means
    the regenerated fixture can never be served from the stale entry."""
    from flight_events_flink_job_spark.sources import fixtures

    table, populate = KINDS[kind]
    populate(spark, sf_dir)
    token = fixtures.fixture_token(sf_dir, table)
    assert token != (None, None)
    keys = [k for k in fixtures._ARTIFACTS if k[0] == kind and k[2] == sf_dir]
    assert keys, f"{kind}: builder did not populate a key for {sf_dir}"
    for k in keys:
        assert k[3] == token, (
            f"{kind} key {k!r} does not embed the fixture token "
            f"{token!r} of {table}.parquet — an in-place regeneration "
            "would serve this stale entry"
        )
