"""VERDICT r14 item 4 diagnostic: how much of the applyInPandasWithState
topologies' cost is the per-key invocation FLOOR of the API (Arrow group
slicing + GroupState round-trip + the mandatory per-key pandas yield),
versus the accumulator work inside the function?

Runs the streaming_stateful_totals topology three ways in one session,
interleaved (same events stream, same sink shape, fresh checkpoints):

  real    — running_totals_cents (the registered operator)
  nullop  — identical topology, but the stateful fn does NO pandas work:
            state.update((0, 0)) and a constant 1-row yield per key
  jvmagg  — the same per-key totals as a built-in streaming aggregate
            (no Python at all) — the engine floor for this state shape

real - nullop  = the accumulator work the function actually does.
nullop - jvmagg = the Python-boundary floor no in-function vectorization
can remove. Diagnostic only (the registered query is unchanged).
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from kafka_streams_rosetta_demo_spark.session import get_spark
    from kafka_streams_rosetta_demo_spark.sources.parquet import normalize_event_ts
    from kafka_streams_rosetta_demo_spark.streaming.runner import run_topology
    from kafka_streams_rosetta_demo_spark.streaming.stateful import (
        running_totals_cents,
    )

    spark = get_spark(app_name="stateful-floor-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def nullop_totals(stream):
        out_schema = "user_id long, n_events long, total_cents long"
        state_schema = "n long, total long"

        def fn(key, pdfs, state: GroupState):
            for _ in pdfs:  # drain the groups, touch nothing
                pass
            state.update((0, 0))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [0], "total_cents": [0]}
            )

        return (
            stream.select("user_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
            )
        )

    def jvm_totals(stream):
        return stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("total_cents"),
        )

    variants = {
        "real": running_totals_cents,
        "nullop": nullop_totals,
        "jvmagg": jvm_totals,
    }
    results = {k: [] for k in variants}
    for r in range(reps):
        for name, build in variants.items():
            spark.sparkContext.setJobDescription(f"floor:{name}:{r}")
            t0 = time.time()
            df = run_topology(
                spark,
                sf_dir,
                lambda ev, build=build: build(normalize_event_ts(ev)),
                glob="events.parquet",
                keys=["user_id"],
            )
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            results[name].append(round(dt, 3))
            print(f"rep {r} {name:7s} {dt:7.3f}s", flush=True)
    for name, xs in results.items():
        print(f"{name:7s} median {sorted(xs)[len(xs) // 2]:.3f}s  {xs}")


if __name__ == "__main__":
    main()
