"""Interleaved same-host A/B harness: registered queries under two values of
one environment variable.

Usage:
    python tools/ab_query.py <ENV_VAR> <a> <b> <rounds> <sf_dir> <query> [query ...]

Per query, runs 2*rounds legs alternating ENV_VAR=a (leg A) and ENV_VAR=b
(leg B). Each leg is one ``bench.py --queries <query>`` child
(``bench.run_child``) with ENV_VAR and ``SPARK_GRAFT_SF_DIR=<sf_dir>`` set:
a fresh session (local[$SPARK_GRAFT_CPUS]), bench's untimed warm-up, then
bench's rep policy through the noop sink — ``$SPARK_GRAFT_BENCH_REPS``
reps (default 3), per-rep times on stderr, the median as the leg's time.
A leg that times out is reaped with its JVM. Interleaving A/B/A/B on the
same host is the only trustworthy comparison on a host whose shared disk
has I/O storms (OPTIMIZATION_r14.md method note). Each round prints one
leg pair; each query prints its leg medians; one JSON line with every leg
time, both medians, ``ratio`` = median B / median A and the paired
per-round B/A ratios closes the run.

Core scaling, 8 vs 32 cores on the ten heavy queries (master local[N] AND
shuffle partitions follow SPARK_GRAFT_CPUS, as in bench.py's scaling
runs; ratio ≈ 0.25 = perfect scaling, ≈ 1 = overhead-bound). Run it at a
scale factor where compute dominates the fixed overheads (sf0.5, generated
by tools/gen_scaled_sf.py):

    python tools/ab_query.py SPARK_GRAFT_CPUS 8 32 2 <sf0.5_dir> \\
        streaming_ann_screen streaming_decontaminate_screen \\
        streaming_expectation_monitor streaming_mixture_sampler \\
        streaming_boilerplate_screen streaming_winnowing_screen \\
        corpus_source_similarity dedup_embedding_cosine \\
        dedup_containment graph_pagerank

Production code reads no switches besides the session's, so a code A/B
compares two commits: use perfbench's paired runs, or run this tool from
two checkouts.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def run_leg(query: str, env_var: str, val: str, sf_dir: str) -> float:
    env = dict(os.environ, **{env_var: val, "SPARK_GRAFT_SF_DIR": sf_dir})
    record = bench.run_child([query], env=env)
    if record is None:
        raise RuntimeError(f"leg failed: {query} {env_var}={val}")
    return record["timings"][query]


def main() -> None:
    if len(sys.argv) < 7:
        sys.exit(__doc__)
    env_var, a, b, rounds, sf_dir = sys.argv[1:6]
    summary = []
    for query in sys.argv[6:]:
        legs_a, legs_b = [], []
        for r in range(int(rounds)):
            legs_a.append(run_leg(query, env_var, a, sf_dir))
            legs_b.append(run_leg(query, env_var, b, sf_dir))
            print(
                f"{query} round {r}: {env_var}={a} {legs_a[-1]:.3f}s "
                f"{env_var}={b} {legs_b[-1]:.3f}s ratio={legs_b[-1] / legs_a[-1]:.3f}",
                flush=True,
            )
        med_a, med_b = statistics.median(legs_a), statistics.median(legs_b)
        print(f"== {query}: median A={med_a:.3f}s B={med_b:.3f}s", flush=True)
        summary.append(
            {
                "query": query,
                "env": env_var,
                "a": a,
                "b": b,
                "sec_a": legs_a,
                "sec_b": legs_b,
                "median_a": med_a,
                "median_b": med_b,
                "ratio": round(med_b / med_a, 3),
                "paired_ratios": [round(y / x, 3) for x, y in zip(legs_a, legs_b)],
            }
        )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
