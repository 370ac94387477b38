"""The benchmark's workloads: which query keys, at which scale, and why.

Each workload is a closed loop with one client: keys run one after another,
each pass in an order shuffled by the seed. Fixture data comes from
``tools/gen_sf.gen`` with the seed as the generator seed, so a seed fixes
both the data and the key order.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float
    keys: tuple[str, ...]
    # Clear this workload's sink caches (scoped by ``caches.sf_tag``) before
    # every pass, so each pass pays its writes instead of reading back.
    cold_sinks: bool
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_sf0.1",
            0.1,
            ("q_returned_items", "q_order_priority", "q_topk_group", "q_fhir_choice"),
            False,
            "Glue-style ETL verbs (scan, filter, join, semi-join, aggregate, top-k, window, "
            "nested); executor, scan and shuffle work, no Python workers or sinks",
        ),
        Workload(
            "curation_ingest",
            0.1,
            ("q_grouped_map", "q_arrow_map", "q_stream_tumbling", "q_json_ingest"),
            True,
            "pandas and Arrow UDFs, a stateful stream drain and JSON ingest with sink caches "
            "cleared each pass: Python workers, micro-batches, sinks, jobs during plan-build",
        ),
    )
}

DEFAULT_SEED = 777  # gen_sf's own seed: the data PARITY_SF1.json verified


def key_orders(workload: Workload, seed: int):
    """Endless sequence of per-pass key orders, fixed by workload and seed."""
    rng = random.Random(f"{workload.name}:{seed}")
    while True:
        yield rng.sample(workload.keys, len(workload.keys))
