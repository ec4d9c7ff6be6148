"""The workloads: which ops make up one round, and why.

An op is one registered query (``fn()`` plus the noop sink) or one full
map→reduce job over the seeded corpus. A run repeats whole rounds; the
seed permutes the op order inside each round, so every run measures the
same op mix.
"""

from __future__ import annotations

import random
from collections.abc import Callable
from dataclasses import dataclass


@dataclass(frozen=True)
class Op:
    query: str | None  # registry name; None is the map→reduce job
    store: str | None = None  # "cold" or "warm" for shared-store consumers

    @property
    def label(self) -> str:
        base = self.query or "mapreduce"
        return f"{base}#{self.store}" if self.store else base


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    round: Callable[[random.Random], list[Op]]
    # The share of --seconds one round stands for: a run times
    # round(seconds / round_s) whole rounds, at least one, so every run
    # of a workload does the same work. It is about one warm round's
    # duration on a 4-core host.
    round_s: float
    # Reset the shared stores before every round and keep Spark's cache
    # between ops, so warm ops read what the cold op built. Otherwise
    # clear the cache after every op, as bench.py does.
    resets_stores: bool = False


def _shuffled(names: list[str], rng: random.Random) -> list[Op]:
    ops = [Op(n) for n in names]
    rng.shuffle(ops)
    return ops


RELATIONAL = [
    "q01_pricing_summary",
    "q21_revenue_by_nation",
    "q37_grouping_sets",
    "q07_sort_limit",
    "q30_topk_per_group",
    "q27_asof_join",
    "q328_shipping_priority",
    "q348_returned_item_customers",
    "q404_hot_key_skew_join",
    "q180_order_count_distribution",
    "q155_interval_concurrency",
    "q465_dynamic_gap_session_window",
]

# Session-shared stores: the query that builds each store runs cold
# (store just reset), then warm (store filled).
STORE_BUILDERS = [
    "q443_unigram_lm_viterbi_segmentation",
    "q433_quality_classifier_training",
]


def _store_round(rng: random.Random) -> list[Op]:
    units = [[Op(q, "cold"), Op(q, "warm")] for q in STORE_BUILDERS]
    rng.shuffle(units)
    return [op for unit in units for op in unit]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "relational",
            "TPC-H-shaped scans, joins, aggregates, windows and top-k: cost sits "
            "in Catalyst and the sink, with no jobs inside fn()",
            lambda rng: _shuffled(RELATIONAL, rng),
            round_s=6.0,
        ),
        Workload(
            "shared_store",
            "ULM lattice and trainer store builds (cold, jobs inside fn()) beside "
            "their warm reads; each round resets both stores",
            _store_round,
            round_s=8.0,
            resets_stores=True,
        ),
        Workload(
            "mapreduce_files",
            "the literal contract: an external word count per input file, "
            "gathered, then one external merge over all outputs",
            lambda rng: [Op(None)],
            round_s=3.5,
        ),
    )
}
