"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The pure tests run in seconds. ``test_counts_repeat_and_follow_the_seed``
starts one local Spark session and makes six small traced passes (about two
minutes on a 4-core host).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
for p in (str(HERE), str(ROOT)):
    if p not in sys.path:
        sys.path.insert(0, p)

import corpus  # noqa: E402
import host  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def test_tail_has_ten_samples_beyond_it():
    samples = [float(x) for x in range(1, 21)]
    value, pct = run.tail(samples)
    assert sum(1 for s in samples if s > value) == 10
    assert value == 10.0 and pct == 50.0
    # below 11 samples no percentile has ten beyond it: report the maximum
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_self_time_excludes_children():
    assert tracing._minus(0.0, 10.0, [(2.0, 4.0), (3.0, 5.0), (9.0, 12.0)]) == [
        (0.0, 2.0), (5.0, 9.0)
    ]
    assert tracing._length([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == 4.0


@pytest.mark.parametrize(
    "text, expected",
    [
        ("total (min, med, max (stageId: taskId))\n14.7 MiB (1.2 MiB, 1.5 MiB, 9.9 MiB "
         "(stage 3.0: task 12))", (14.7 * 2**20, 1.5 * 2**20, 9.9 * 2**20, 3)),
        ("total (min, med, max (stageId: taskId))\n5.8 s (959 ms, 1.3 s, 5.0 s "
         "(stage 2.0: task 9))", (5.8, 1.3, 5.0, 2)),
        ("94,210", (94210.0, 94210.0, 94210.0, None)),
        ("320 ms", (0.32, 0.32, 0.32, None)),
    ],
)
def test_sql_metric_strings_parse(text, expected):
    got = tracing._metric_value(text)
    assert got[3] == expected[3]
    assert got[:3] == pytest.approx(expected[:3])


def test_steal_share_is_of_the_time_the_cpus_wanted():
    t0 = [0] * 8
    # user nice system idle iowait irq softirq steal
    t1 = [60, 0, 20, 500, 0, 0, 0, 20]
    assert host.steal_busy_frac(t0, t1) == pytest.approx(0.2)
    assert host.steal_busy_frac(t0, t0) == 0.0 and host.steal_busy_frac(None, t1) == 0.0
    with host.Interval(cpu_pid=os.getpid()) as iv:
        sum(range(10000))
    assert 0.0 <= iv.steal < 1.0 and iv.cpu >= 0.0
    assert iv.net == pytest.approx(iv.wall * (1 - iv.steal))


def test_cluster_check():
    row = lambda s, c, e: {"surface": s, "canonical_surface": c, "entity_id": e}  # noqa: E731
    surfaces = {"acme": "E1", "acme co": "E1", "zeta": "E2"}
    good = [row("acme", "acme", "E1"), row("acme co", "acme", "E1"), row("zeta", "zeta", "E2")]
    assert workloads.check_clusters(good, surfaces) is None
    assert "smallest" in workloads.check_clusters(
        [row("acme", "acme co", "E1"), row("acme co", "acme co", "E1"), good[2]], surfaces)
    assert "differ" in workloads.check_clusters(good[:2], surfaces)
    assert "differ" in workloads.check_clusters(good[:2] + [row("zeta", "zeta", "E9")], surfaces)
    assert "more than one" in workloads.check_clusters(good + [good[0]], surfaces)


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_corpus_is_a_function_of_the_seed():
    a = corpus.build(5, 40, 600, 120, 0.05, with_oracle=True, processes=1)
    b = corpus.build(5, 40, 600, 120, 0.05, with_oracle=True, processes=1)
    c = corpus.build(6, 40, 600, 120, 0.05, with_oracle=True, processes=1)
    assert a.transcripts.equals(b.transcripts) and a.oracle.equals(b.oracle)
    assert not a.transcripts.equals(c.transcripts)
    assert a.n_turns == c.n_turns == 600  # every seed makes the same amount of work
    counts = ("alias_hits", "fallback_forms", "self_loops_dropped")
    assert [a.funnel[k] for k in counts] == [b.funnel[k] for k in counts]
    assert [a.funnel[k] for k in counts] != [c.funnel[k] for k in counts]


def test_pool_and_single_process_corpora_agree():
    a = corpus.build(7, 120, 2000, 120, 0.05, with_oracle=True, processes=1)
    b = corpus.build(7, 120, 2000, 120, 0.05, with_oracle=True, processes=2)
    assert a.transcripts.equals(b.transcripts) and a.oracle.equals(b.oracle)
    assert a.funnel["alias_hits"] == b.funnel["alias_hits"]


#: per-layer counts that must repeat exactly for one input
COUNTS = {
    "extract_bulk": ("extraction.rows_out", "linking.alias_hits", "linking.fallback_forms",
                     "linking.self_loops_dropped", "spark.jobs_per_pass"),
    "ledgered_graph": ("extraction.rows_out", "spark.jobs_per_commit", "canonicalize.cc_rounds",
                       "similarity.lsh_candidate_pairs", "similarity.lsh_kept_pairs",
                       "catalog.files_written"),
}
SMALL = {"extract_bulk": (60, 1200, 120, 0.05, True), "ledgered_graph": (30, 450, 80, 0.08, True)}


@pytest.fixture(scope="module")
def spark():
    work = ROOT / ".perfbench_work" / f"test-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    session = run.start_spark(str(work), 2, "perfbench-tests")
    yield session, str(work)
    run.stop_spark(session)
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()
    except OSError:
        pass


def _traced_counts(spark, work: str, name: str, seed: int) -> dict:
    wl = workloads.WORKLOADS[name](seed, work, 2)
    wl.sizes = SMALL[name]
    wl.prepare()
    wl.setup(spark)
    wl.reference()
    wl.before_op(0)
    tracer = tracing.Tracer()
    tracer.install()
    try:
        with tracer.span("bench", "pass") as root:
            out = wl.op(0)
    finally:
        tracer.uninstall()
    assert wl.check(0, out) is None
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    rec = tracer.pass_record(spark, root)
    rec.update(wl.layer_extras(0))
    rec.update({f"linking.{k}": v for k, v in wl.corpus.funnel.items()})
    wl.after_op(0)
    assert rec["trace.accounted_frac"] == pytest.approx(1.0, abs=0.02)
    return {k: rec[k] for k in COUNTS[name]}


@pytest.mark.parametrize("name", sorted(COUNTS))
def test_counts_repeat_and_follow_the_seed(spark, name):
    session, work = spark
    first = _traced_counts(session, work, name, 21)
    again = _traced_counts(session, work, name, 21)
    other = _traced_counts(session, work, name, 22)
    assert first == again
    assert first["extraction.rows_out"] > 0 and first["linking.alias_hits" if name == "extract_bulk"
                                                        else "canonicalize.cc_rounds"] > 0
    # the data-derived counts move with the input; jobs per commit and
    # connected-components rounds are structural and may not
    data = [k for k in first if k not in ("spark.jobs_per_commit", "canonicalize.cc_rounds",
                                          "spark.jobs_per_pass", "catalog.files_written")]
    assert [first[k] for k in data] != [other[k] for k in data]
