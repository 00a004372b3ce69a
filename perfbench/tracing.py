"""Spans around the program's public entry points, and Spark's own records.

A :class:`Tracer` replaces each entry point named in :data:`TARGETS` with a
wrapper that records a span (layer, function, start, end, parent) and tags
every Spark job the call launches with the span's id as the job group. After
a traced pass, :meth:`Tracer.pass_record` joins the spans with the jobs and
stages in ``sparkContext._jsc.sc().statusStore()`` and the SQL plan metrics in
``sharedState().statusStore()``; both are filled with ``spark.ui.enabled``
off. Nothing is patched inside Python workers: only driver-side functions are
wrapped, and no wrapped function is captured by a closure that Spark ships.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import re
import sys
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "cdrc_semantic_search_spark"

#: (layer, module, attribute) of every traced entry point; layers are the
#: program's modules, grouped as the benchmark reports them
TARGETS: list[tuple[str, str, str]] = [
    ("kg_pipeline", "plans.kg_pipeline", "KGPipeline.__init__"),
    ("kg_pipeline", "plans.kg_pipeline", "KGPipeline.triples"),
    ("kg_pipeline", "plans.kg_pipeline", "KGPipeline.mentions"),
    ("kg_pipeline", "plans.kg_pipeline", "KGPipeline.run_partitioned"),
    ("kg_pipeline", "plans.kg_pipeline", "KGPipeline.commit_graph_deltas"),
    ("kg_pipeline", "plans.kg_pipeline", "KGPipeline.compacted_edges"),
    ("kg_pipeline", "plans.kg_pipeline", "KGPipeline.compacted_nodes"),
    ("kg_pipeline", "plans.kg_pipeline", "KGPipeline.compacted_surface_clusters"),
    ("kg_pipeline", "plans.kg_pipeline", "KGPipeline.kg_edges"),
    ("kg_pipeline", "plans.kg_pipeline", "KGPipeline.mention_counts"),
    ("kg_pipeline", "plans.kg_pipeline", "KGPipeline.surface_forms"),
    ("extraction", "operators.extraction", "extract_linked_triples_arrow"),
    ("extraction", "operators.extraction", "extract_mentions"),
    ("extraction", "operators.extraction", "broadcast_catalogue"),
    ("linking", "operators.linking", "build_entity_index"),
    ("linking", "operators.linking", "link_surfaces"),
    ("linking", "encoder", "make_encoder_udf"),
    ("canonicalize", "operators.canonicalize", "canonicalize_embedded"),
    ("canonicalize", "operators.canonicalize", "connected_components"),
    ("canonicalize", "operators.canonicalize", "incremental_components"),
    ("similarity", "operators.similarity", "cosine_pairs_lsh"),
    ("similarity", "operators.similarity", "lsh_assign"),
    ("similarity", "operators.similarity", "exact_recheck"),
    ("catalog", "sources.catalog", "ParquetTableCatalog.overwrite_partition"),
    ("catalog", "sources.catalog", "ParquetTableCatalog.read_committed"),
    ("catalog", "sources.catalog", "ParquetTableCatalog.read_partition"),
    ("catalog", "sources.catalog", "ParquetTableCatalog.uncommitted"),
    ("catalog", "sources.catalog", "ParquetTableCatalog.ledger"),
    ("scale", "functions.scale", "fan_in"),
]

LAYERS = ("bench", "kg_pipeline", "extraction", "linking", "canonicalize",
          "similarity", "catalog", "scale")


@dataclass
class Span:
    sid: str
    layer: str
    name: str
    parent: str | None
    start: float  # epoch seconds, the clock Spark's status store uses
    end: float = 0.0
    tag: str = ""  # table name for catalog calls
    stats: dict = field(default_factory=dict)


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in _union(list(intervals)))


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def _minus(lo: float, hi: float, holes) -> list[tuple[float, float]]:
    """[lo, hi) without the union of ``holes``."""
    out, cur = [], lo
    for a, b in _union(_clip(holes, lo, hi)):
        if a > cur:
            out.append((cur, a))
        cur = max(cur, b)
    if cur < hi:
        out.append((cur, hi))
    return out


class Tracer:
    """Spans in memory, written out by the caller when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # job groups are matched by span id, so ids must not repeat across
        # tracers in one Spark application
        self._prefix = f"perfbench-{uuid.uuid4().hex[:12]}"
        self._ids = itertools.count()
        self._saved: list[tuple[object, str, object]] = []

    # ---- spans -----------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str, tag: str = ""):
        parent = self._stack[-1].sid if self._stack else None
        rec = Span(f"{self._prefix}-{next(self._ids)}", layer, name, parent, time.time(), tag=tag)
        self._stack.append(rec)
        self._tag_jobs(rec)
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._stack.pop()
            self._tag_jobs(self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    @staticmethod
    def _tag_jobs(rec: Span | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        else:
            sc.setJobGroup(rec.sid, f"{rec.layer}.{rec.name}")

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # connected_components reports its rounds into a caller-given
            # dict; supply one when the caller passed none
            stats = None
            if name == "connected_components" and kwargs.get("stats") is None:
                stats = kwargs["stats"] = {}
            with tracer.span(layer, name, tag=_table_arg(name, args, kwargs)) as rec:
                out = fn(*args, **kwargs)
                if stats is not None:
                    rec.stats = stats
                return out

        return traced

    # ---- install / uninstall --------------------------------------------
    def install(self) -> None:
        """Wrap every target, in its defining module and wherever it was
        imported by name."""
        for layer, mod_name, attr in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                raw = cls.__dict__[meth]
                if isinstance(raw, staticmethod):
                    new = staticmethod(self._wrap(layer, meth, raw.__func__))
                else:
                    new = self._wrap(layer, meth, raw)
                self._saved.append((cls, meth, raw))
                setattr(cls, meth, new)
                continue
            orig = getattr(mod, attr)
            new = self._wrap(layer, attr, orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG) and getattr(m, attr, None) is orig:
                    self._saved.append((m, attr, orig))
                    setattr(m, attr, new)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # ---- per-pass record -------------------------------------------------
    def pass_record(self, spark, root: Span) -> dict:
        """Layer self-times and Spark metrics of the pass under ``root``."""
        subtree = self._subtree(root)
        ids = {s.sid for s in subtree}
        jobs = [j for j in _jobs(spark) if j["group"] in ids]
        job_iv = [(j["start"], j["end"]) for j in jobs]
        wall = root.end - root.start
        children: dict[str, list[Span]] = {}
        for s in subtree:
            children.setdefault(s.parent, []).append(s)
        rec: dict[str, float] = {f"{layer}.self_s": 0.0 for layer in LAYERS}
        job_s = 0.0
        for s in subtree:
            own = _minus(s.start, s.end, [(c.start, c.end) for c in children.get(s.sid, [])])
            mine = [(j["start"], j["end"]) for j in jobs if j["group"] == s.sid]
            with_jobs = _length(x for a, b in own for x in _clip(mine, a, b))
            rec[f"{s.layer}.self_s"] += sum(b - a for a, b in own) - with_jobs
            job_s += with_jobs
        gap = wall - _length(_clip(job_iv, root.start, root.end))
        rec.update({
            "spark.job_s": job_s,
            "spark.driver_gap_s": gap,
            "spark.jobs_per_pass": float(len(jobs)),
            "trace.accounted_frac": (sum(rec[f"{x}.self_s"] for x in LAYERS) + job_s) / wall,
        })
        rec.update(_stage_metrics(spark, {sid for j in jobs for sid in j["stages"]}))
        rec.update(_sql_metrics(spark, {j["id"] for j in jobs}))
        cc = [s for s in subtree if s.name == "connected_components"]
        rec["canonicalize.connected_components_s"] = sum(s.end - s.start for s in cc)
        rec["canonicalize.cc_rounds"] = float(sum(s.stats.get("rounds", 0) for s in cc))
        for table in ("triples", "edge_deltas", "node_deltas", "surface_deltas"):
            rec[f"catalog.overwrite_partition_s.{table}"] = sum(
                s.end - s.start for s in subtree
                if s.name == "overwrite_partition" and s.tag == table
            )
        rec["catalog.read_committed_s"] = sum(
            s.end - s.start for s in subtree if s.name == "read_committed"
        )
        rec["kg_pipeline.run_partitioned_s"] = sum(
            s.end - s.start for s in subtree if s.name == "run_partitioned"
        )
        rec["kg_pipeline.compacted_read_s"] = sum(
            s.end - s.start for s in subtree if s.name.startswith("compacted_")
        )
        runs = [s for s in subtree if s.name == "run_partitioned"]
        commits = [s for s in subtree if s.name == "overwrite_partition" and s.tag == "triples"]
        run_ids = {x.sid for r in runs for x in self._subtree(r)}
        rec["spark.jobs_per_commit"] = (
            sum(1 for j in jobs if j["group"] in run_ids) / len(commits) if commits else 0.0
        )
        return rec

    def _subtree(self, root: Span) -> list[Span]:
        kids: dict[str | None, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, []))
        return out


def _table_arg(name: str, args: tuple, kwargs: dict) -> str:
    """Table name of a catalog call: the argument after the frame/session."""
    if name in ("overwrite_partition", "read_committed", "read_partition"):
        return str(kwargs.get("name", args[2] if len(args) > 2 else ""))
    if name in ("uncommitted", "ledger"):
        return str(kwargs.get("name", args[1] if len(args) > 1 else ""))
    return ""


# ---- Spark status stores ---------------------------------------------------
def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _jobs(spark) -> list[dict]:
    out = []
    for j in _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None)):
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None or done is None:
            continue
        out.append({
            "id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "start": sub.getTime() / 1000.0,
            "end": done.getTime() / 1000.0,
            "stages": [int(x) for x in _seq(j.stageIds())],
        })
    return out


def _stage_metrics(spark, stage_ids: set[int]) -> dict:
    store = spark.sparkContext._jsc.sc().statusStore()
    run_ms = cpu_ns = shuffle = spill = 0
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # a stage skipped because its shuffle output was reused
            continue
        run_ms += st.executorRunTime()
        cpu_ns += st.executorCpuTime()
        shuffle += st.shuffleWriteBytes()
        spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return {
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.shuffle_write_bytes": float(shuffle),
        "spark.spill_bytes": float(spill),
    }


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)?")
_STAGE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")


def _metric_value(text: str) -> tuple[float, float, float, int | None]:
    """(total, median, max, stage of the max task) of a formatted SQL metric.

    Spark formats sizes and times for display ("14.7 MiB", "5.0 s"), so
    these are exact to the shown digits; plain sums are exact."""
    body = text.split("\n", 1)[-1]
    nums = [float(v.replace(",", "")) * _UNITS.get(u or "", 1) for v, u in _VALUE.findall(body)]
    stage = _STAGE.search(body)
    total = nums[0] if nums else 0.0
    med = nums[2] if len(nums) >= 4 else total
    mx = nums[3] if len(nums) >= 4 else total
    return total, med, mx, int(stage.group(1)) if stage else None


def _sql_metrics(spark, job_ids: set[int]) -> dict:
    """Python-boundary metrics of the extraction kernel and LSH pair counts,
    from the SQL plan graphs of the executions that ran ``job_ids``."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {k: 0.0 for k in (
        "extraction.py_run_s", "extraction.py_init_s", "extraction.py_boot_s",
        "extraction.py_bytes_sent", "extraction.py_bytes_recv", "extraction.rows_out",
        "similarity.lsh_candidate_pairs", "similarity.lsh_kept_pairs",
    )}
    kernel_stages: list[tuple[float, int]] = []
    for e in _seq(store.executionsList()):
        ejobs = {int(k) for k in _seq(e.jobs().keys().toSeq())}
        if not ejobs & job_ids:
            continue
        values = store.executionMetrics(e.executionId())
        cand_rows: list[float] = []
        sym_rows: list[float] = []
        for node in _seq(store.planGraph(e.executionId()).allNodes()):
            name, desc = node.name(), node.desc()
            metrics = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = _metric_value(v.get())
            rows = metrics.get("number of output rows", (0.0,) * 4)[0]
            if name in ("MapInArrow", "MapInPandas") and (
                "subj_entity_id" in desc or "mention_idx" in desc
            ):
                out["extraction.py_run_s"] += metrics.get("time to run Python workers", (0,) * 4)[0]
                out["extraction.py_init_s"] += metrics.get("time to initialize Python workers", (0,) * 4)[0]
                out["extraction.py_boot_s"] += metrics.get("time to start Python workers", (0,) * 4)[0]
                out["extraction.py_bytes_sent"] += metrics.get("data sent to Python workers", (0,) * 4)[0]
                out["extraction.py_bytes_recv"] += metrics.get("data returned from Python workers", (0,) * 4)[0]
                if name == "MapInArrow":
                    out["extraction.rows_out"] += rows
                    run = metrics.get("time to run Python workers")
                    if run and run[3] is not None:
                        kernel_stages.append((run[0], run[3]))
            elif name == "HashAggregate" and re.search(r"keys=\[id_a#\d+, id_b#\d+\], functions=\[\]", desc):
                cand_rows.append(rows)
            elif name == "HashAggregate" and re.search(r"keys=\[a#\d+, b#\d+\], functions=\[\]", desc):
                sym_rows.append(rows)
        if cand_rows:
            # cosine_pairs_lsh: the candidate dropDuplicates on (id_a, id_b),
            # partial and final aggregate; the final one is the smaller
            out["similarity.lsh_candidate_pairs"] += min(cand_rows)
        if sym_rows:
            # connected_components' symmetric distinct edge list holds every
            # kept pair (id_a < id_b) in both directions
            out["similarity.lsh_kept_pairs"] += max(sym_rows) / 2
    out["extraction.task_skew"] = _task_skew(spark, max(kernel_stages)[1]) if kernel_stages else 0.0
    out["similarity.lsh_pair_yield"] = (
        out["similarity.lsh_kept_pairs"] / out["similarity.lsh_candidate_pairs"]
        if out["similarity.lsh_candidate_pairs"] else 0.0
    )
    return out


def _task_skew(spark, stage_id: int) -> float:
    """max/median task duration of the stage."""
    store = spark.sparkContext._jsc.sc().statusStore()
    st = store.lastStageAttempt(stage_id)
    durs = sorted(
        float(_opt(t.duration(), 0)) for t in _seq(store.taskList(stage_id, st.attemptId(), 100000))
    )
    if not durs:
        return 0.0
    med = durs[len(durs) // 2] if len(durs) % 2 else (durs[len(durs) // 2 - 1] + durs[len(durs) // 2]) / 2
    return durs[-1] / med if med > 0 else 0.0
