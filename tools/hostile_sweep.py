"""Hostile-config registry sweep: every registered query vs its DuckDB
oracle under a deliberately unfriendly session — the mechanical proof of
the registry-wide order-free-math claim (SCALING.md "Config-robustness
sweep").

Two modes:

- ``aqe_off`` — adaptive execution disabled, ``shuffle.partitions=5``:
  different partition counts and merge orders, no runtime re-planning. A
  float summed in partition order anywhere in a query would fail here.
- ``tz`` — ``session.timeZone=America/New_York``, ``shuffle.partitions=1``:
  proves the registry's per-query UTC pin shields every date/window
  rendering from host-timezone misconfiguration.

Usage: ``python tools/hostile_sweep.py aqe_off|tz|plain [sf_dir]``
(``plain`` = default session — the cross-SF parity sweep runner)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else "aqe_off"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    # Concurrency override: execution memory is consumed PER CONCURRENT
    # TASK, so heap-constrained legs (the bare-1g sf2.0 record) turn the
    # same knob a cluster operator does — memory per core — by lowering
    # task slots instead of raising the heap.
    cpus = os.environ.get("SPARK_GRAFT_SWEEP_CPUS", "32")
    b = SparkSession.builder.master(f"local[{cpus}]").appName(f"hostile-{mode}")
    if "SPARK_GRAFT_SWEEP_CPUS" in os.environ:
        # Heap-constrained profile (the bare-1g sf2.0 record): an explicit
        # SWEEP_CPUS means the operator is sizing memory-per-core, so also
        # shrink the PER-TASK shuffle-read footprint — the round-10 record's
        # one asterisk was tpch_q21's triple-lineitem sort-merge join
        # intermittently OOMing a 1g heap at 8 task slots because each
        # task's spill readers allocate ReadAhead double-buffers (1 MiB
        # reader buffer x2 x spill-file count — and 1 MiB is the conf's
        # hard FLOOR, so the buffer cannot shrink; disabling read-ahead
        # halves the allocation instead) and each reducer keeps 48 MiB of
        # fetched blocks in flight. None of these affect results, only
        # streaming-read granularity; with them the whole 40-query sf2.0
        # basket passes at ONE CPU setting (SWEEP_CPUS=8, SCALING.md
        # round-11 note) instead of needing a per-query local[2] exception.
        b = (
            b.config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
            .config("spark.reducer.maxSizeInFlight", "8m")
            .config("spark.shuffle.file.buffer", "16k")
        )
    # The sweep session is deliberately BARE (the driver's own session is
    # bare too), which means Spark's 1g default driver heap — correct for
    # the gate/bench scale factors, but a 20x-bench-volume leg (sf2.0) OOMs
    # on the larger localCheckpoint artifacts. Opt-in override only; unset
    # = the same bare session every prior sweep record used.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        b = b.config("spark.driver.memory", mem)
    if mode == "aqe_off":
        b = b.config("spark.sql.adaptive.enabled", "false").config(
            "spark.sql.shuffle.partitions", "5"
        )
    elif mode == "tz":
        b = b.config("spark.sql.session.timeZone", "America/New_York").config(
            "spark.sql.shuffle.partitions", "1"
        )
    elif mode == "plain":
        # no hostile confs — the harness doubles as the cross-SF parity
        # sweep runner (SCALING.md "sf0.1 parity sweep"); a plain session
        # is what the driver itself builds
        b = b.config("spark.sql.shuffle.partitions", "32")
    elif mode == "default200":
        # Spark's OUT-OF-THE-BOX session: shuffle.partitions=200 (the
        # stock default), AQE on, host TZ — the exact session a user gets
        # from a bare SparkSession.builder. The other modes are
        # deliberately unfriendly; this one is merely UNTUNED, and it is
        # the most likely real-world misconfiguration (the registry's
        # per-query UTC pin and the runner's scoped state-partition pin
        # are what make it safe).
        pass
    else:
        raise SystemExit(f"unknown mode: {mode}")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from kafka_streams_rosetta_demo_spark.queries import load_all
    from tests.oracle_check import compare

    reg = load_all()
    only = os.environ.get("SPARK_GRAFT_SWEEP_QUERIES")
    names = sorted(n for n in reg if not only or n in only.split(","))
    from kafka_streams_rosetta_demo_spark.streaming.runner import (
        release_streaming_result_pins,
    )

    ok = fail = 0
    for name in names:
        q = reg[name]
        # release the previous query's DISK_ONLY-degraded streaming result
        # pins (no-op in-budget) — a degraded full-width sweep must not
        # stack 200+ result copies on local disk
        release_streaming_result_pins()
        try:
            df = q.fn(spark, sf)
            if q.oracle is None:
                # No oracle → the sweep's invariant is "executes AND
                # produces rows under the hostile conf". Every fixture
                # guarantees non-empty output for registered queries, so a
                # zero-row result under a hostile conf IS a finding (today
                # this branch is dead — all 202 queries carry oracles — but
                # a future oracle-less registration must not get a
                # can't-fail count>=0 check).
                assert df.count() > 0, f"{name}: zero rows under hostile conf"
            else:
                compare(df, q.oracle, sf)
            ok += 1
        except Exception as e:  # report-and-continue: the count is the result
            fail += 1
            print(f"FAIL {name}: {str(e)[:300]}", flush=True)
    print(f"{mode}: {ok} ok, {fail} fail of {len(names)}", flush=True)
    return 1 if fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
