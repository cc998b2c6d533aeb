"""Documented error bounds of Spark's DataSketches aggregates.

Spark builds HLL, KLL and theta sketches with Apache DataSketches
(``hll_sketch_agg``, ``kll_sketch_agg_double``, ``theta_sketch_agg``).
The registry lines and the tests check their answers against exact
counts at these bounds; each function names the source of its constant.
"""

from __future__ import annotations

import math


def hll_error(lg_config_k: int) -> float:
    """Relative 3-sigma error of an HLL distinct count: 3 · 1.04/√K with
    K = 2^lgConfigK (1.04/√K is the HLL standard error, Flajolet et al.
    2007, which DataSketches documents for its HLL sketch).
    lgConfigK=14 gives 2.44%."""
    return 3 * 1.04 / math.sqrt(1 << lg_config_k)


def theta_error(lg_nom_entries: int) -> float:
    """3-sigma error of a theta estimate: 3/√k with k = 2^lgNomEntries
    (DataSketches theta RSE ≤ 1/√k).  A plain or union estimate is held
    to it relative to its exact count; an intersection or difference
    relative to |A ∪ B|, since DataSketches states set-operation error
    against the union.  Below k distinct items the sketch is exact.
    lgNomEntries=8 gives 18.75%."""
    return 3 / math.sqrt(1 << lg_nom_entries)


def kll_rank_error(k: int, delta: float = 1e-6) -> float:
    """Normalized single-rank error of a KLL sketch that a check exceeds
    with probability at most ``delta`` per sketch.

    DataSketches documents 2.296/k^0.9723 at 99% confidence (1.33% at
    k=200), so a gate at that bound misses about once per 100 sketches.
    The KLL bound grows as √ln(1/δ) (Karnin, Lang & Liberty 2016), so
    the documented value is scaled by √(ln(1/δ) / ln 100): δ = 1e-6 gives
    √3 ≈ 1.73, or 2.30% at k=200."""
    return (2.296 / k ** 0.9723) * math.sqrt(math.log(1 / delta) / math.log(100))
