"""Time to first result with ``get_spark``'s Python worker warm-up left in
the background (the default) or waited for before ``get_spark`` returns.

Each run is a fresh process: ``get_spark`` → read the transcript turns from
parquet → build a ``KGPipeline`` → write its triples to the ``noop`` sink.
Runs alternate between the two modes, and each pair swaps which mode goes
first. Prints one JSON line per run, then the medians and pairs won.

    python scripts/warmup_bench.py --pairs 6 [--conversations 2000]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODES = ("background", "blocking")


def run_once(mode: str, data: str) -> dict:
    t0 = time.perf_counter()
    import pandas as pd

    from cdrc_semantic_search_spark import session
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    spark = session.get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    if mode == "blocking":
        session._WARMING[spark.sparkContext.applicationId].join()
    t1 = time.perf_counter()
    parts = 2 * spark.sparkContext.defaultParallelism
    tdf = spark.read.parquet(os.path.join(data, "transcripts.parquet")).repartition(parts)
    pipe = KGPipeline(spark, pd.read_parquet(os.path.join(data, "entities.parquet")))
    pipe.triples(tdf).write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    spark.stop()
    return {"mode": mode, "get_spark_s": t1 - t0, "to_first_result_s": t2 - t0}


def write_inputs(data: str, n_conversations: int) -> None:
    from cdrc_semantic_search_spark import fixtures

    fx = fixtures.generate(seed=7, n_conversations=n_conversations, n_entities=500)
    for name, pdf in (("transcripts", fx.transcripts), ("entities", fx.entities)):
        pdf.to_parquet(
            os.path.join(data, f"{name}.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pairs", type=int, default=6)
    ap.add_argument("--conversations", type=int, default=2000)
    ap.add_argument("--run", choices=MODES, help=argparse.SUPPRESS)
    ap.add_argument("--data", help=argparse.SUPPRESS)
    args = ap.parse_args()
    sys.path.insert(0, REPO)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    if args.run:
        print(json.dumps(run_once(args.run, args.data)))
        return

    runs: dict[str, list[float]] = {m: [] for m in MODES}
    with tempfile.TemporaryDirectory() as data:
        write_inputs(data, args.conversations)
        for i in range(args.pairs):
            for mode in MODES if i % 2 == 0 else MODES[::-1]:
                out = subprocess.run(
                    [sys.executable, __file__, "--run", mode, "--data", data],
                    capture_output=True, text=True, check=True,
                )
                rec = json.loads(out.stdout.strip().splitlines()[-1])
                print(json.dumps(rec), flush=True)
                runs[mode].append(rec["to_first_result_s"])
    won = sum(b < k for b, k in zip(runs["background"], runs["blocking"]))
    print(json.dumps({
        "median_to_first_result_s": {m: statistics.median(v) for m, v in runs.items()},
        "background_pairs_won": f"{won}/{args.pairs}",
    }))


if __name__ == "__main__":
    main()
