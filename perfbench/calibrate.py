#!/usr/bin/env python3
"""Rebuild strata.json: the registry-sf0.01 pool, ranked by warm
latency, with every key's result checked on the benchmark's generated
tables. The workload's panel is the middle key of each stratum.

    python3 perfbench/calibrate.py            # about 10 minutes on 4 cores

For every registered key (by name) it runs one cold and one warm
forced op exactly as run.py does, then the DuckDB oracle check. Keys
that fail, keys whose (count, hash) differs between the two runs, keys
in ``EXCLUDED`` and keys slower than ``LONG_POLE_S`` warm leave the
pool, each with its reason. Rerun it when keys are added or removed;
a registered key missing from the file is never picked.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import run as bench

#: Keys kept out of the pool by name, with the reason.
EXCLUDED = {
    "stream_stateful_totals": "runs a Structured Streaming query whose wall is set by "
    "its micro-batch trigger loop, not by the per-query path; it also leaks a session conf",
}
#: Warm seconds above which a key is a long pole: one of them costs more
#: than the rest of a pass, so a panel holding one would set ops_per_s
#: and the run length by itself.
LONG_POLE_S = 3.0


def main(argv=None) -> int:
    argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter).parse_args(argv)
    out = bench.STRATA_PATH
    os.makedirs(bench.STATE_DIR, exist_ok=True)
    run_dir = os.path.join(bench.STATE_DIR, f"calibrate-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run = None
    try:
        sf_dir = bench.datagen.generate(
            os.path.join(run_dir, "data"), bench.workload.SCALE["registry-sf0.01"], bench.DATA_SEED
        )
        bench.isolate(run_dir)
        ns = argparse.Namespace(workload="registry-sf0.01", seed=0, seconds=0, trace=0)
        run = bench.Run(args=ns, run_dir=run_dir, sf_dir=sf_dir, tracer=bench.Tracer(False))
        run.setups.append(bench.setup_once(run, first=True))
        box = bench.box_record(run)
        con = bench.open_duck(sf_dir)
        ranked, excluded = [], dict(EXCLUDED)
        for key in sorted(run.specs):
            if key in excluded:
                continue
            t0 = time.perf_counter()
            cold = bench.query_op(run, key, 0)
            warm = bench.query_op(run, key, 1)
            err = cold.error or warm.error
            if not err and cold.result != warm.result:
                err = f"(count, hash) {warm.result} != first run {cold.result}"
            if not err:
                err = bench.oracle_check(run.spark, run.specs[key], sf_dir, con, cold.result[0])
            if not err and warm.wall_s > LONG_POLE_S:
                err = f"long pole: {warm.wall_s:.2f} s warm > {LONG_POLE_S} s"
            if err:
                excluded[key] = err
            else:
                ranked.append((key, round(warm.wall_s, 4)))
            print(f"# {key}: cold {cold.wall_s:.3f} warm {warm.wall_s:.3f} "
                  f"({time.perf_counter() - t0:.1f} s) {err or 'ok'}", file=sys.stderr, flush=True)
        con.close()
        ranked.sort(key=lambda kv: kv[1])
        with open(out, "w") as fh:
            json.dump({
                "about": "registry-sf0.01 pool: keys ranked by warm seconds "
                "(written by perfbench/calibrate.py)",
                "sf": bench.workload.SCALE["registry-sf0.01"],
                "data_seed": bench.DATA_SEED,
                "box": box,
                "ranked": ranked,
                "excluded": dict(sorted(excluded.items())),
            }, fh, indent=1)
            fh.write("\n")
        print(f"# {len(ranked)} keys ranked, {len(excluded)} excluded -> {out}", file=sys.stderr)
        return 0
    finally:
        if run is not None and run.spark is not None:
            bench.shutdown(run.spark)
        os.chdir(bench.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
