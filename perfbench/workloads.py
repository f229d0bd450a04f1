"""The benchmark's workloads: which registered queries run, on which data.

Each workload names the registry ids it runs in one pass and the fixture
its timed passes read; why each was chosen is in ``BENCHMARK.json``. The
seed permutes the query order of every pass (and, for the sharded corpus,
drives the shard generator); the oracle check always runs on the small
check fixture.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    data: str  # "base" (the relational fixture) or "sharded" (the 10x corpus)


WORKLOADS = {
    w.name: w
    for w in (
        # q63 and q129 read the shingle and semantic-dedup memos that set-up
        # builds; q214 is a shuffle-heavy exact-substring dedup. Execution is
        # most of a pass, so no eager-checkpoint query (q156, q162, q268) is
        # included, and q263 is left out because its time varies by a third
        # from one process to the next
        Workload(
            "llm_curation_10x",
            ("q63_dedup_near", "q129_semdedup", "q214_substring_spans"),
            "sharded",
        ),
        # two streaming drains (q57 keeps dedup state), an overwrite sink,
        # the gated pipeline and a CDC merge: all run before the action
        Workload(
            "stream_ingest",
            (
                "q53_stream_tumbling", "q57_stream_dedup_state",
                "q04_sink_overwrite", "q52_shortcircuit_gate", "q305_cdc_apply",
            ),
            "base",
        ),
    )
}


def pass_order(workload: Workload, seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a permutation fixed by (seed, pass)."""
    order = list(workload.queries)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order
