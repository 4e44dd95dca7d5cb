"""Shared measured-crossover decision seam.

Three cost-aware routes in this engine call :func:`decide_crossover`.
Each measures a cheap statistic, compares it to a crossover PINNED from
an A/B run at scale, logs which side won and why, and selects the route.
None takes a parameter that forces a side: each reads its module-level
constant at call time, so tests force a side by patching the constant.

- near-dup edge route (``queries/pipeline_q.choose_edge_method``):
  estimated shingle postings vs the 30M crossover where MinHash+LSH
  overtakes the exact shingle-index join (sf100 A/B: 0.33x).
- connected-components route (``operators/dedup.connected_components``):
  the materialized edge count vs the 2M-edge cap up to which one
  driver-local union-find beats the distributed label-propagation loop.
- IVF top-k route (``operators/similarity.auto_ivf_topk``): corpus
  vectors vs the 60k-vector size above which the stored,
  partition-pruned index clears the recall floor with margin.

Centralizing the compare-and-log step keeps every new cost-aware
default on one seam with one test pattern (VERDICT r9 item 7): the
callers stay responsible for MEASURING their statistic (each has a
different cheap path — metadata counts, sampled aggregates) and for
acting on the label; this module owns the decision
and its audit trail.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

_LOG = logging.getLogger(__name__)


@dataclass(frozen=True)
class CostDecision:
    """The outcome of one measured-crossover decision, kept around so
    callers (and tests) can audit WHY a route was taken, not just which."""

    choice: str  #: label of the selected route
    stat: float  #: the measured statistic
    crossover: float  #: the pinned threshold it was compared against
    stat_name: str  #: human name of the statistic, for the log line

    @property
    def above(self) -> bool:
        return self.stat > self.crossover


def decide_crossover(
    stat: float,
    crossover: float,
    above_label: str,
    below_label: str,
    stat_name: str,
    logger: logging.Logger | None = None,
    detail: str = "",
) -> CostDecision:
    """Pick ``above_label`` iff ``stat > crossover`` (strict), log the
    selection with the evidence, and return the full decision record.

    Pure and unit-testable at both ends of every caller's measured A/B —
    the convention set by ``_decide_edge_method``, which delegates here.
    """
    choice = above_label if stat > crossover else below_label
    d = CostDecision(choice=choice, stat=float(stat), crossover=float(crossover), stat_name=stat_name)
    (logger or _LOG).info(
        "cost crossover: %s = %.4g vs pinned %.4g -> %r%s",
        stat_name,
        d.stat,
        d.crossover,
        choice,
        f" ({detail})" if detail else "",
    )
    return d
