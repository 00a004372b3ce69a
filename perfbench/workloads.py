"""The workloads: their inputs, set-up, timed operation and output check.

Every timed operation's output is fingerprinted by an ``Observation`` that
rides the operation's own action (row count plus an order-independent sum of
``xxhash64`` over all columns, integers widened to long), so checking adds no
Spark job to the timed region. The expected fingerprints come from
references computed once per run, outside every timed region.

Sizes are fixed here, not by options. With ``--seconds 20`` they keep one
run, Spark start included, at about 55 s on a 4-core host, so that 22 runs
of each workload fit in under an hour even when other guests slow the host
down.
"""

from __future__ import annotations

import functools
import itertools
import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

import corpus as corpus_mod
from cdrc_semantic_search_spark import fixtures
from cdrc_semantic_search_spark.config import PipelineSettings, Settings
from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog

_obs_ids = itertools.count()


def _fp_exprs(df: DataFrame, cols: list[str] | None = None):
    cols = sorted(cols or df.columns)
    hashed = []
    for c in cols:
        col = F.col(c)
        if isinstance(df.schema[c].dataType, (ByteType, ShortType, IntegerType)):
            col = col.cast("long")
        hashed.append(col)
    return (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.pmod(F.xxhash64(*hashed), F.lit(1 << 31))), F.lit(0)).alias("h"),
    )


def fingerprint(df: DataFrame, cols: list[str] | None = None) -> tuple[int, int]:
    row = df.agg(*_fp_exprs(df, cols)).first()
    return int(row["n"]), int(row["h"])


def observed(df: DataFrame, cols: list[str] | None = None) -> tuple[DataFrame, Observation]:
    obs = Observation(f"perfbench_fp_{next(_obs_ids)}")
    return df.observe(obs, *_fp_exprs(df, cols)), obs


def obs_fingerprint(obs: Observation) -> tuple[int, int] | None:
    got = obs.get
    return (int(got["n"]), int(got["h"])) if got else None


@functools.lru_cache(maxsize=None)
def _partition_keys(spark, parts: int) -> tuple[int, ...]:
    """One key per partition id p with pmod(hash(key), parts) == p, the
    partition ``repartition(parts, key)`` sends it to."""
    rows = spark.range(0, 64 * parts).select(
        "id", F.pmod(F.hash("id"), F.lit(parts)).alias("p")
    ).collect()
    first: dict[int, int] = {}
    for r in rows:
        first.setdefault(r["p"], r["id"])
    return tuple(first[p] for p in range(parts))


def load_transcripts(
    spark, corpus: corpus_mod.Corpus, parts: int, interleaved: bool = False
) -> DataFrame:
    """The corpus as a checkpointed frame of ``parts`` partitions, each one
    contiguous conversation range in generator order (the layout
    ``fixtures.generate_spark`` produces), or, ``interleaved``, conversation
    ``c`` in partition ``c mod parts``; turns stay in conversation order
    within a partition either way."""
    keys = _partition_keys(spark, parts)
    part = np.empty(corpus.n_turns, dtype=np.int64)
    if interleaved:
        conv_ix = corpus.transcripts["conv_id"].str.slice(5).astype(np.int64).to_numpy()
        part[:] = np.asarray(keys)[conv_ix % parts]
    else:
        for p, (a, b) in enumerate(corpus.conversation_slices(parts)):
            part[a:b] = keys[p]
    schema = fixtures.transcript_schema().add("__part", LongType())
    df = spark.createDataFrame(corpus.transcripts.assign(__part=part), schema=schema)
    return (
        df.repartition(parts, "__part")
        .sortWithinPartitions("conv_id", "turn_idx")
        .drop("__part")
        .localCheckpoint()
    )


ORACLE_SCHEMA = (
    "conv_id string, turn_idx int, subj_entity_id string, pred string, "
    "obj_entity_id string, score double"
)


def oracle_frame(spark, corpus: corpus_mod.Corpus) -> DataFrame:
    """``oracle.oracle_triples`` of the corpus as a Spark frame."""
    return spark.createDataFrame(corpus.oracle, schema=ORACLE_SCHEMA)


class Workload:
    """One workload; the runner calls the methods in the order listed."""

    name = ""
    #: fewest timed operations a run makes, whatever ``--seconds`` says
    min_ops = 1
    #: untimed operations before timing
    warmup = 0
    #: (conversations generated, turns kept, entities, perturb rate, oracle needed)
    sizes: tuple[int, int, int, float, bool] = (0, 0, 0, 0.0, False)
    #: spread conversations over the partitions instead of keeping ranges
    interleaved = False
    settings = Settings()

    def __init__(self, seed: int, work_dir: str, nproc: int, trace: bool = True):
        self.seed = seed
        self.trace = trace
        self.work_dir = work_dir
        self.nproc = nproc
        self.spark = None
        self.corpus: corpus_mod.Corpus | None = None
        self.tdf: DataFrame | None = None
        self.pipe: KGPipeline | None = None

    # ---- before Spark ----------------------------------------------------
    def prepare(self) -> None:
        n_conv, n_turns, n_ent, perturb, oracle = self.sizes
        self.corpus = corpus_mod.build(
            self.seed, n_conv, n_turns, n_ent, perturb, with_oracle=oracle,
            processes=self.nproc, with_funnel=self.trace,
        )

    @property
    def n_turns(self) -> int:
        return self.corpus.n_turns

    # ---- set-up (timed, repeated) ----------------------------------------
    def setup(self, spark) -> tuple[float, float]:
        """Load the input and build the pipeline → (load_s, pipeline_init_s)."""
        self.spark = spark
        t0 = time.perf_counter()
        tdf = load_transcripts(spark, self.corpus, 2 * self.nproc, self.interleaved)
        t1 = time.perf_counter()
        pipe = KGPipeline(spark, self.corpus.entities, self.settings)
        t2 = time.perf_counter()
        if self.pipe is not None:
            self.pipe.bc_catalogue.destroy()
            self.pipe.bc_index.destroy()
        self.tdf, self.pipe = tdf, pipe
        return t1 - t0, t2 - t1

    # ---- reference (untimed) ---------------------------------------------
    def reference(self) -> None:
        raise NotImplementedError

    # ---- one operation ---------------------------------------------------
    def before_op(self, i: int) -> None:
        """Untimed preparation of operation ``i``."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> str | None:
        """None if operation ``i`` produced the reference output, else why not."""
        raise NotImplementedError

    def after_op(self, i: int) -> None:
        """Untimed clean-up of operation ``i``."""

    def commit_seconds(self, i: int) -> list[float]:
        return []

    def layer_extras(self, i: int) -> dict[str, float]:
        return {}

    def _fresh_pipeline(self) -> None:
        """A new pipeline per operation: new broadcasts, so every operation
        pays the worker-side matcher build and cold link cache a one-shot
        run pays."""
        old = self.pipe
        self.pipe = KGPipeline(self.spark, self.corpus.entities, self.settings)
        old.bc_catalogue.destroy()
        old.bc_index.destroy()


class ExtractBulk(Workload):
    """``KGPipeline.triples`` into the noop sink over 55,000 turns."""

    name = "extract_bulk"
    min_ops = 3
    warmup = 1
    sizes = (2000, 55_000, 500, 0.04, True)
    # In conversation order the hot conversations fill one task, so a pass
    # is one Python worker's time, and that swung by up to 1.6x between runs
    # of the same seed; spread over all tasks, a pass averages the workers.
    interleaved = True

    def reference(self) -> None:
        self.cols = list(self.corpus.oracle.columns)
        self.expected = fingerprint(oracle_frame(self.spark, self.corpus))

    def before_op(self, i: int) -> None:
        self._fresh_pipeline()

    def op(self, i: int):
        df, obs = observed(self.pipe.triples(self.tdf), self.cols)
        df.write.format("noop").mode("overwrite").save()
        return obs

    def check(self, i: int, out) -> str | None:
        got = obs_fingerprint(out)
        if got != self.expected:
            return f"triples fingerprint {got} != oracle {self.expected}"
        return None


class _CommitClock(ParquetTableCatalog):
    """Catalog that notes when each partition overwrite returns."""

    def __init__(self, root: str):
        super().__init__(root)
        self.ends: list[tuple[str, float]] = []

    def overwrite_partition(self, df, name, partition, *args, **kwargs):
        rec = super().overwrite_partition(df, name, partition, *args, **kwargs)
        self.ends.append((partition, time.perf_counter()))
        return rec


class LedgeredGraph(Workload):
    """Per-bucket ledgered commits of the graph deltas into a fresh catalog
    (``run_partitioned(with_graph=True)``), then the merge-on-read of the
    committed graph: ``compacted_edges`` and ``compacted_nodes``, counted,
    and the canonicalizing ``compacted_surface_clusters``, collected."""

    name = "ledgered_graph"
    sizes = (240, 5_000, 150, 0.05, True)
    settings = Settings(pipeline=PipelineSettings(num_buckets=1))

    def reference(self) -> None:
        """Expected outputs, none of them from the ledgered path: triples
        from the oracle, edges rolled up from the oracle triples, nodes and
        the distinct surface set from the single-shot mention extraction."""
        spark, pipe, tdf = self.spark, self.pipe, self.tdf
        tri = oracle_frame(spark, self.corpus)
        # one partition: each Python stage then starts one worker task, not
        # 2 x nproc; mentions are per turn, so the partitioning cannot matter
        men = pipe.mentions(tdf.coalesce(1)).localCheckpoint()
        self.cols = list(self.corpus.oracle.columns)
        self.expected = {
            "triples": fingerprint(tri),
            "edges": fingerprint(
                pipe.kg_edges(tri.join(tdf.select("conv_id", "turn_idx", "ts"),
                                       ["conv_id", "turn_idx"]))
            ),
            "nodes": fingerprint(pipe.kg_nodes(men)),
        }
        self.surfaces = {r["surface"]: r["entity_id"] for r in pipe.surface_forms(men).collect()}
        self.buckets = [str(b) for b in range(self.settings.pipeline.num_buckets)]

    def _root(self, i: int) -> str:
        return os.path.join(self.work_dir, f"ledger_{i}")

    def before_op(self, i: int) -> None:
        self._fresh_pipeline()
        self.catalog = _CommitClock(self._root(i))

    def op(self, i: int):
        spark, cat, pipe = self.spark, self.catalog, self.pipe
        self.t_start = time.perf_counter()
        ran = pipe.run_partitioned(
            self.tdf, cat, source_snapshot=f"seed-{self.seed}", with_graph=True
        )
        reads = {}
        for name, build in (
            ("edges", lambda: KGPipeline.compacted_edges(spark, cat)),
            ("nodes", lambda: pipe.compacted_nodes(cat)),
        ):
            df, obs = observed(build())
            df.count()
            reads[name] = obs
        clusters = pipe.compacted_surface_clusters(cat).collect()
        return ran, reads, clusters

    def commit_seconds(self, i: int) -> list[float]:
        """Wall time of each bucket's commit: from the previous bucket's
        last partition overwrite (or the pass start) to its own last one."""
        last: dict[str, float] = {}
        for part, t in self.catalog.ends:
            last[part] = t
        out, prev = [], self.t_start
        for t in sorted(last.values()):
            out.append(t - prev)
            prev = t
        return out

    def check(self, i: int, out) -> str | None:
        ran, reads, clusters = out
        if sorted(ran) != self.buckets:
            return f"committed buckets {ran} != {self.buckets}"
        got = {k: obs_fingerprint(o) for k, o in reads.items()}
        got["triples"] = fingerprint(self.catalog.read_committed(self.spark, "triples"), self.cols)
        bad = sorted(k for k in self.expected if got.get(k) != self.expected[k])
        if bad:
            return f"ledgered {bad} differ from the reference"
        return check_clusters(clusters, self.surfaces)

    def layer_extras(self, i: int) -> dict[str, float]:
        n = sum(len(files) for _, _, files in os.walk(self._root(i)))
        return {"catalog.files_written": float(n)}

    def after_op(self, i: int) -> None:
        shutil.rmtree(self._root(i), ignore_errors=True)


def check_clusters(rows, surfaces: dict[str, str | None]) -> str | None:
    """None if the (surface, canonical_surface, entity_id) rows cluster
    exactly the distinct surfaces, each once with its own entity, and
    every cluster is named by its smallest member; else why not."""
    got = {}
    members: dict[str, list[str]] = {}
    for r in rows:
        if r["surface"] in got:
            return f"surface {r['surface']!r} is in more than one cluster"
        got[r["surface"]] = r["entity_id"]
        members.setdefault(r["canonical_surface"], []).append(r["surface"])
    if got != surfaces:
        missing = sorted(set(surfaces) - set(got))[:3]
        extra = sorted(set(got) - set(surfaces))[:3]
        return f"clustered surfaces differ: missing {missing}, extra {extra}, or entity ids"
    for canon, ms in members.items():
        if canon != min(ms):
            return f"cluster {canon!r} is not named by its smallest member {min(ms)!r}"
    return None


WORKLOADS = {w.name: w for w in (ExtractBulk, LedgeredGraph)}
