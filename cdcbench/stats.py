"""Which latency percentile a sample can support, and which latency
samples the host left undisturbed."""

from __future__ import annotations

import math

# percentiles the benchmark may report for a latency, highest first
TAIL_CANDIDATES = (99.9, 99.0, 90.0, 50.0)


def highest_supported_percentile(
    n: int, candidates=TAIL_CANDIDATES, min_beyond: int = 10
) -> float | None:
    """The highest candidate percentile that has at least ``min_beyond``
    of ``n`` samples beyond it, or None when even the median has not."""
    for q in sorted(candidates, reverse=True):
        # rounded: 100 - 99.9 is not exactly 0.1 in binary floating point
        if round(n * (100.0 - q) / 100.0, 9) >= min_beyond:
            return q
    return None


# a read during which the hypervisor stole more than this share of the
# machine's CPU time is disturbed: a read is a chain of short thread
# hand-offs, and on a contended host each hand-off waits for a CPU, so a
# few percent of steal can double its latency
STEAL_MAX = 0.03


def least_disturbed(samples, steal) -> list:
    """The samples whose steal share is at most ``STEAL_MAX``, in their
    original order. When fewer than half of them qualify, the half with
    the least steal instead, so a run contended throughout still reports
    from half of its samples."""
    order = sorted(range(len(samples)), key=lambda i: steal[i])
    keep = [i for i in order if steal[i] <= STEAL_MAX]
    need = math.ceil(len(samples) / 2)
    if len(keep) < need:
        keep = order[:need]
    return [samples[i] for i in sorted(keep)]
