"""Preference-data operators: pairwise win derivation and Bradley–Terry
strength fitting for RLHF-style comparison data.

The reference (a Kafka Streams demo) has none of this; a training-data
platform does: human/model preference pairs ("A beats B") are the raw
material of reward-model training, and the standard aggregate over them is
the Bradley–Terry model (Bradley & Terry 1952; the same likelihood DPO and
most RLHF reward models optimize). The pipeline shape mirrors the repo's
other bounded-model-state operators (BPE training `operators/bpe.py`):

- the CORPUS-sized work is one lag-window pass (sequence reconstruction,
  shuffled once on the grouping key) plus a map-side-combining aggregate
  that collapses to at most |items|² cells — at 100 TB of events that is
  still a <=4096-row model table;
- the ITERATIVE fit runs driver-side over that bounded table in exact
  Python integers, so the result is reproducible bit-for-bit and the
  DuckDB oracle can replay the identical iterations as unrolled CTEs
  (the `graph_pagerank` / `text_bpe_train` determinism discipline).

All arithmetic is integer fixed-point (ppm / scaled-by-1e6): win counts are
quantized to ppm of the total comparison count BEFORE iterating — in
arbitrary-precision Python, so the quantization itself cannot overflow at
any corpus size — which keeps every intermediate of the MM update far below
2^63 regardless of how many raw comparisons the corpus held (the oracle's
BIGINT replay stays exact for the same reason).
"""

from __future__ import annotations

BT_SCALE = 1_000_000
BT_ITERATIONS = 20
MAX_BT_ITEMS = 64  # model-state cap: the fit is |items|²; refuse unbounded keys


def quantize_wins_ppm(wins: dict[tuple[str, str], int]) -> dict[tuple[str, str], int]:
    """Ordered (winner, loser) -> raw count, quantized to ppm of the total
    comparison count. Exact unbounded-int arithmetic; drops zero cells.

    Dropping is a DOCUMENTED semantic, not an accident: a cell whose count
    floors to 0 ppm (< one millionth of all comparisons) is removed, and an
    item whose EVERY win cell quantizes to zero disappears from the fit
    entirely — it is absent from the output, not reported with theta 0.
    Both engines drop identically (the oracle replays the same floor), so
    parity holds; consumers who need 'present but ~0 wins' distinguished
    from 'no data' must pre-bucket rare items before quantization."""
    total = sum(wins.values())
    if total <= 0:
        return {}
    out = {}
    for pair, n in wins.items():
        w = (n * BT_SCALE) // total
        if w > 0:
            out[pair] = w
    return out


def fit_bradley_terry(
    wins_ppm: dict[tuple[str, str], int],
    iterations: int = BT_ITERATIONS,
    scale: int = BT_SCALE,
) -> dict[str, tuple[int, int, int]]:
    """Integer minorize–maximize (MM) Bradley–Terry fit (Hunter 2004,
    "MM algorithms for generalized Bradley-Terry models", the standard
    iteration) over a ppm-quantized ordered-win matrix.

    Update per item i:  θ'_i = (W_i·S) / Σ_j (N_ij·S) / (θ_i + θ_j)
    then renormalize so Σθ = |items|·S. Every division x / d is integer
    division rounded half up, ``(2x + d) // (2d)`` on non-negative
    integers, so a SQL replay with ``//`` (DuckDB) computes the identical
    trajectory — the property the oracle gate relies on. Rounding, not
    flooring: floor division biases every term down, and over 20
    iterations that bias compounds into the fitted strengths.

    Returns item -> (theta_ppm, wins_ppm_total, comparisons_ppm_total).
    """
    items = sorted({x for pair in wins_ppm for x in pair})
    k = len(items)
    if k == 0:
        return {}
    if k > MAX_BT_ITEMS:
        raise ValueError(
            f"Bradley-Terry model state is |items|^2; got {k} items > "
            f"{MAX_BT_ITEMS}. Bucket or filter the comparison key first."
        )
    w_tot = {i: 0 for i in items}
    for (a, _b), n in wins_ppm.items():
        w_tot[a] += n
    n_sym = {
        (i, j): wins_ppm.get((i, j), 0) + wins_ppm.get((j, i), 0)
        for i in items
        for j in items
        if i != j
    }
    theta = {i: scale for i in items}
    for _ in range(iterations):
        new = {}
        for i in items:
            denom = 0
            for j in items:
                if i == j:
                    continue
                n = n_sym[(i, j)]
                s = theta[i] + theta[j]
                if n > 0 and s > 0:
                    denom += (2 * n * scale + s) // (2 * s)
            new[i] = (
                (2 * w_tot[i] * scale + denom) // (2 * denom) if denom > 0 else theta[i]
            )
        tot = sum(new.values())
        if tot > 0:
            theta = {i: (2 * new[i] * k * scale + tot) // (2 * tot) for i in items}
        else:  # pragma: no cover - all-zero thetas need an all-zero win matrix
            theta = new
    return {
        i: (theta[i], w_tot[i], sum(n_sym[(i, j)] for j in items if j != i))
        for i in items
    }


def ndcg_discount_micro(k: int = 10, scale: int = 1_000_000) -> list[int]:
    """DCG position discounts 1/log2(rank+1) for ranks 1..k, quantized to
    integer micro-units (round-half-up) ONCE here and embedded as literals
    in both the Spark expression and the DuckDB oracle — irrational
    discounts never touch either engine's float path, so rank metrics are
    hash-exact across engines."""
    import math

    return [int(scale / math.log2(r + 1) + 0.5) for r in range(1, k + 1)]
