"""The benchmark's workloads: which registered queries each one runs, and why.

Every workload reads the same read-only sf0.1 fixture, the package's
default (``stupidb_spark.session.DEFAULT_SF_DIR``), so the seed cannot
change the data; it fixes only the order in which a run visits the
workload's queries (see ``pass_orders``).

Each query carries the family it stands for. ``relational`` is one family;
``extensions`` mixes three (``corpus``: execution-bound Python-worker
operators, ``driver_loop``: callables that run eager driver-sequenced jobs,
``stream``: stream gates), and the traced record splits its layers by
family.
"""

from __future__ import annotations

import random

# name -> (why, nominal pass seconds, [(query, family)]).
#
# A run times ``seconds // nominal`` whole passes (at least one), so the
# measured work is fixed by --seconds and does not grow when the engine
# gets faster; the nominal pass time is a steady pass on a 4-core host,
# rounded up, so that 15 s gives three passes. Each query's time is the
# median of its passes, which a burst of host noise in one pass does not
# move. The sets are small because a run's ~17 s set-up, its untimed check
# pass (about twice a steady pass) and its untimed warm passes must fit
# its share of the benchmark's time budget.
WORKLOADS: dict[str, tuple[str, float, list[tuple[str, str]]]] = {
    "relational": (
        "JVM-only relational verbs (scan, join, group-by, window):"
        " Catalyst and codegen execution, lazy plans, no Python workers",
        5.0,
        [
            ("tpch_q1", "relational"),
            ("tpch_q3", "relational"),
            ("tpch_q6", "relational"),
            ("tpch_q21", "relational"),
            ("join_skew_replicate", "relational"),
            ("win_rank", "relational"),
        ],
    ),
    "extensions": (
        "extension operators: Python-worker scoring, eager driver-sequenced"
        " jobs and a stateful stream gate, which relational never runs",
        5.0,
        [
            ("dedup_embedding_cosine", "corpus"),
            ("ann_topk_ivfpq", "driver_loop"),
            ("stream_events_sliding", "stream"),
        ],
    ),
}


# Untimed noop passes between the check pass and the timed passes. The
# JIT keeps speeding the queries up for several passes after the check
# pass (a relational pass on a 4-core host takes 4.7, 3.8, 3.9, 3.7, 3.4 s,
# then 3.2 s; an extensions pass 7.0, 6.5, 5.8, 5.9, 5.9, 5.6, 5.0 s), and
# how far it gets varies from run to run. The timed passes should fall
# where the curve is flat: a second extensions warm pass put them on the
# drop after the fifth pass and doubled the run-to-run spread.
WARM_PASSES = {"relational": 3, "extensions": 1}


def queries(workload: str) -> list[str]:
    """The workload's queries in their canonical (unshuffled) order."""
    return [q for q, _ in WORKLOADS[workload][2]]


def families(workload: str) -> dict[str, str]:
    return dict(WORKLOADS[workload][2])


def timed_passes(workload: str, seconds: float) -> int:
    return max(1, int(seconds // WORKLOADS[workload][1]))


def pass_orders(workload: str, seed: int):
    """Yield one query order per pass: pass k is the k-th shuffle drawn
    from ``random.Random(seed)``. The same seed gives the same orders."""
    rng = random.Random(seed)
    while True:
        order = queries(workload)
        rng.shuffle(order)
        yield order
