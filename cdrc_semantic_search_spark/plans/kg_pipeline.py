"""End-to-end KG construction plan: transcripts → triples → kg_nodes/kg_edges.

The Spark re-expression of the reference's ingest+query lifecycle
(SURVEY §3): scan → stable turn ordering → extraction UDF → entity linking
against a broadcast index → aggregation → materialization, with
per-partition ledger commits for idempotent resume.

Plan-shape invariants (the 100-TB contract):
* the transcripts fact table is read once, never shuffled before
  extraction (mapInPandas is partition-local; salting only spreads rows);
* every join touching the fact side is BROADCAST (alias map, fallback
  links, entity dim) — zero fact-side shuffles until the final
  aggregations, which group on (entity, pred, entity) — a space orders of
  magnitude smaller than the input;
* kg_edges aggregation is a plain groupBy → partial (map-side) aggregation
  halves shuffle volume for free; hot-entity skew is AQE's problem
  (skew-join on) plus the salted two-stage option in operators/assembly.
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.config import Settings
from cdrc_semantic_search_spark.operators.extraction import (
    broadcast_catalogue,
    extract_candidates,
    extract_mentions,
)
from cdrc_semantic_search_spark.operators.linking import (
    build_entity_index,
    link_surfaces,
)
from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog

log = logging.getLogger(__name__)


class KGPipeline:
    """Holds the broadcast state (catalogue + entity index) for a run."""

    def __init__(self, spark: SparkSession, entities_pdf: pd.DataFrame, settings: Settings | None = None):
        import uuid

        self.spark = spark
        self.settings = settings or Settings()
        self.entities_pdf = entities_pdf
        self.bc_catalogue = broadcast_catalogue(spark, entities_pdf)
        self.index = build_entity_index(entities_pdf, self.settings)
        self.bc_index = spark.sparkContext.broadcast((uuid.uuid4().hex, self.index))

    # ------------------------------------------------------------------ core
    def mentions(self, transcripts: DataFrame) -> DataFrame:
        """Linked mentions table (FIXTURES.md §3 `mentions` shape)."""
        raw = extract_mentions(transcripts, self.bc_catalogue)
        return link_surfaces(
            self.spark, raw, "surface", self.index, self.bc_index, self.settings
        )

    def triples(self, transcripts: DataFrame, impl: str = "arrow") -> DataFrame:
        """(conv_id, turn_idx, subj_entity_id, pred, obj_entity_id, score).

        Production plan: fused map-only extraction+linking — one
        mapInArrow stage against broadcast state, zero shuffles on the
        fact table (operators/extraction.extract_linked_triples_arrow;
        measured ~1.8× the mapInPandas twin at 930k turns — pandas
        materialization was roughly half of worker time). ``impl="pandas"``
        keeps the bit-equal mapInPandas twin (tested in test_kg_parity).
        score = min(subj link score, obj link score) — the weakest link
        bounds triple confidence (alias hits score 1.0; embedding-fallback
        links carry their hybrid α·dense+(1−α)·sparse score, the
        reference's blend from config.toml:14-15 / model.py:74-78).
        """
        from cdrc_semantic_search_spark.operators.extraction import (
            extract_linked_triples,
            extract_linked_triples_arrow,
        )

        fused = extract_linked_triples_arrow if impl == "arrow" else extract_linked_triples
        return fused(
            transcripts,
            self.bc_catalogue,
            self.bc_index,
            alpha=self.settings.retrieval.alpha,
            link_threshold=self.settings.retrieval.link_threshold,
            query_mode=self.settings.retrieval.query_mode,
        )

    def triples_joined(self, transcripts: DataFrame) -> DataFrame:
        """The join-based formulation of ``triples`` (broadcast alias
        equi-join + distinct-surface embedding fallback).  Semantically
        identical to the fused plan (tested in test_kg_parity) but pays
        four shuffle stages — kept as the didactic/verification twin.
        """
        cand = extract_candidates(transcripts, self.bc_catalogue)
        linked = link_surfaces(
            self.spark, cand, "subj_surface", self.index, self.bc_index,
            self.settings, out_prefix="subj_",
        )
        linked = link_surfaces(
            self.spark, linked, "obj_surface", self.index, self.bc_index,
            self.settings, out_prefix="obj_",
        )
        return (
            linked.filter(
                F.col("subj_entity_id").isNotNull()
                & F.col("obj_entity_id").isNotNull()
                & (F.col("subj_entity_id") != F.col("obj_entity_id"))
            )
            .select(
                "conv_id",
                "turn_idx",
                "ts",
                "subj_entity_id",
                "pred",
                "obj_entity_id",
                F.least("subj_link_score", "obj_link_score").alias("score"),
            )
        )

    def collective_mentions(
        self, transcripts: DataFrame, k: int = 3, beta: float = 0.25
    ) -> DataFrame:
        """Coherence-reranked mention disambiguation
        (operators/linking.collective_link_mentions over
        extract_mentions): each mention's top-k candidates are rescored
        by within-conversation candidate support before the argmax — the
        collective-linking alternative to the per-mention ``mentions()``
        path when conversations are topically coherent. Same broadcast
        state; the fact table shuffles only on conv_id-family keys.
        """
        from cdrc_semantic_search_spark.operators.linking import (
            collective_link_mentions,
        )

        raw = extract_mentions(transcripts, self.bc_catalogue)
        return collective_link_mentions(
            raw, self.bc_index, self.settings, k=k, beta=beta
        )

    def entity_communities(
        self,
        edges: DataFrame,
        n_rounds: int = 4,
        min_modularity: float | None = None,
        weighted: bool = False,
    ) -> DataFrame:
        """Community assignment over a materialized kg_edges table
        (operators/graph.label_propagation on the (subj, obj) projection)
        with an optional modularity quality gate: if ``min_modularity``
        is set and Newman Q of the labeling falls below it, raise instead
        of materializing a meaningless partition (the same
        fail-loudly-not-wrong contract as catalog time travel).
        ``weighted=True`` makes votes proportional to the edge weight
        (co-mention multiplicity) — a 40-triple relation out-votes a
        1-triple one. NOTE: the gate runs an eager modularity job at
        call time.
        """
        from cdrc_semantic_search_spark.operators.graph import (
            label_propagation,
            modularity,
        )

        proj = edges.select(
            F.col("subj_entity_id").alias("src"),
            F.col("obj_entity_id").alias("dst"),
            F.col("weight"),
        )
        labels = label_propagation(
            proj, n_rounds=n_rounds, weight="weight" if weighted else None
        )
        if min_modularity is not None:
            q = modularity(proj, labels).collect()[0]["modularity"]
            if q < min_modularity:
                raise ValueError(
                    f"label-propagation modularity {q:.4f} < floor "
                    f"{min_modularity}: community structure too weak to "
                    "materialize"
                )
        return labels.select(
            F.col("id").alias("entity_id"), F.col("label").alias("community")
        )

    # ---------------------------------------------------------- materialize
    def kg_edges(self, triples: DataFrame) -> DataFrame:
        """Edge rollup: weight + activity span (FIXTURES.md §3 shape)."""
        return (
            triples.groupBy("subj_entity_id", "pred", "obj_entity_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("weight"),
                F.min("ts").alias("first_ts"),
                F.max("ts").alias("last_ts"),
            )
        )

    @staticmethod
    def edge_diff(old: DataFrame, new: DataFrame) -> DataFrame:
        """Diff two kg_edges rollups (two time windows, two snapshot
        generations) → (subj_entity_id, pred, obj_entity_id, w_old,
        w_new, status ∈ added|removed|changed|stable) — the KG
        maintenance primitive: what relations appeared, vanished, or
        shifted weight between observation windows (feeds re-canon
        triggers and temporal trend review alongside burst detection).

        One full-outer join on the edge key; absent sides carry weight
        0. At scale both inputs are rollups bucket-partitioned on the
        same key (merge_edge_deltas note), so the join co-locates.
        """
        key = ["subj_entity_id", "pred", "obj_entity_id"]
        a = old.select(*key, F.col("weight").alias("w_old"))
        b = new.select(*key, F.col("weight").alias("w_new"))
        j = a.join(b, key, "full_outer")
        return j.select(
            *key,
            F.coalesce("w_old", F.lit(0)).cast("long").alias("w_old"),
            F.coalesce("w_new", F.lit(0)).cast("long").alias("w_new"),
            F.when(F.col("w_old").isNull(), F.lit("added"))
            .when(F.col("w_new").isNull(), F.lit("removed"))
            .when(F.col("w_old") != F.col("w_new"), F.lit("changed"))
            .otherwise(F.lit("stable"))
            .alias("status"),
        )

    @staticmethod
    def merge_edge_deltas(existing: DataFrame, delta: DataFrame) -> DataFrame:
        """Incremental kg_edges maintenance: fold a new batch's edge
        rollup into the existing edge table WITHOUT rebuilding from all
        triples — weights add, activity spans extend (least/greatest).

        merge(kg_edges(A), kg_edges(B)) ≡ kg_edges(A ∪ B) — the algebra
        every micro-batch/ledger-partition commit relies on at 10^12
        turns, where a full rebuild per batch is impossible. One
        full-outer join on the edge key; at scale both sides are
        bucket-partitioned on (subj, pred, obj) so the join co-locates.
        Verified by the kg_edges_incremental query hashing EQUAL to the
        full-rebuild oracle.
        """
        key = ["subj_entity_id", "pred", "obj_entity_id"]
        a = existing.select(
            *key,
            F.col("weight").alias("w_a"),
            F.col("first_ts").alias("f_a"),
            F.col("last_ts").alias("l_a"),
        )
        b = delta.select(
            *key,
            F.col("weight").alias("w_b"),
            F.col("first_ts").alias("f_b"),
            F.col("last_ts").alias("l_b"),
        )
        return a.join(b, key, "full_outer").select(
            *key,
            (
                F.coalesce(F.col("w_a"), F.lit(0)) + F.coalesce(F.col("w_b"), F.lit(0))
            ).cast("long").alias("weight"),
            # least/greatest return NULL only if BOTH sides are NULL, which
            # the full-outer join excludes; a one-sided edge keeps its span
            F.least(
                F.coalesce("f_a", "f_b"), F.coalesce("f_b", "f_a")
            ).alias("first_ts"),
            F.greatest(
                F.coalesce("l_a", "l_b"), F.coalesce("l_b", "l_a")
            ).alias("last_ts"),
        )

    @staticmethod
    def merge_node_deltas(existing: DataFrame, delta: DataFrame) -> DataFrame:
        """Incremental kg_nodes maintenance: mention counts add; the dim
        attributes (canonical_name, entity_type) are batch-invariant so
        either side's copy wins.  merge(kg_nodes(A), kg_nodes(B)) ≡
        kg_nodes(A ∪ B) — same per-partition commit algebra as
        merge_edge_deltas.  One full-outer join on entity_id; node tables
        are ≤|catalogue| rows, so at scale this join is broadcast-sized
        no matter how large the fact table grows."""
        key = "entity_id"
        a = existing.select(
            key,
            F.col("canonical_name").alias("cn_a"),
            F.col("entity_type").alias("et_a"),
            F.col("n_mentions").alias("m_a"),
        )
        b = delta.select(
            key,
            F.col("canonical_name").alias("cn_b"),
            F.col("entity_type").alias("et_b"),
            F.col("n_mentions").alias("m_b"),
        )
        return a.join(b, key, "full_outer").select(
            key,
            F.coalesce("cn_a", "cn_b").alias("canonical_name"),
            F.coalesce("et_a", "et_b").alias("entity_type"),
            (
                F.coalesce(F.col("m_a"), F.lit(0)) + F.coalesce(F.col("m_b"), F.lit(0))
            ).cast("long").alias("n_mentions"),
        )

    @staticmethod
    def mention_counts(mentions: DataFrame) -> DataFrame:
        """Linked-mention counts → (entity_id, n_mentions), mentioned
        entities only — the slim per-batch NODE DELTA payload (zero-count
        entities are restored from the dim at read time, so deltas don't
        carry the full catalogue once per batch)."""
        return (
            mentions.filter(F.col("entity_id").isNotNull())
            .groupBy("entity_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_mentions"))
        )

    def _nodes_from_counts(self, counts: DataFrame) -> DataFrame:
        """Enrich the entity dim with a counts frame (missing → 0)."""
        dim = self.spark.createDataFrame(
            self.entities_pdf[["entity_id", "canonical_name", "entity_type"]]
        )
        return (
            dim.join(F.broadcast(counts), "entity_id", "left")
            .withColumn("n_mentions", F.coalesce(F.col("n_mentions"), F.lit(0)))
            .select("entity_id", "canonical_name", "entity_type", "n_mentions")
        )

    def kg_nodes(self, mentions: DataFrame) -> DataFrame:
        """Node table: entity dim enriched with mention counts.

        Mention counts aggregate to ≤|catalogue| rows, so the enrich join
        broadcasts the counts into the dim side (J1/J2 pattern,
        /root/reference/src/datastore.py:19-42)."""
        return self._nodes_from_counts(self.mention_counts(mentions))

    @staticmethod
    def entity_cooccurrence(
        mentions: DataFrame,
        min_pair_count: int = 2,
        cache_handle: list | None = None,
    ) -> DataFrame:
        """Candidate ASSOCIATION edges from co-mention statistics:
        entities mentioned in the same conversation more often than
        independence predicts → (token_a, token_b, n_ab, lift) with
        token_* = entity ids and lift = n_ab·N / (n_a·n_b) over
        conversation sets (operators/text_analysis.cooccurrence_lift_items
        — the log-free PMI, exact-oracled as ta_cooccurrence_lift).

        Complements the extracted (subj, pred, obj) edges: extraction
        finds stated relations; lift surfaces statistical ones with no
        surface pattern. At 10^12 turns the per-conversation self-join
        fans out quadratically in ENTITIES PER CONVERSATION (tens) — not
        corpus size; ``min_pair_count`` prunes the long singleton tail
        before the doc-frequency joins."""
        from cdrc_semantic_search_spark.operators.text_analysis import (
            cooccurrence_lift_items,
        )

        # n_docs=None: the conversation count is derived from the
        # persisted (conv, entity) distinct cache inside
        # cooccurrence_lift_items, so the extraction/linking UDF upstream
        # of `mentions` executes ONCE (the count action populates the
        # cache the lift plan then reads). Every linked row has an
        # entity, so "docs with ≥1 item" IS the linked-conversation
        # universe — the same count the old eager pass computed.
        linked = mentions.filter(F.col("entity_id").isNotNull())
        return cooccurrence_lift_items(
            linked,
            "conv_id",
            "entity_id",
            None,
            min_pair_count=min_pair_count,
            cache_handle=cache_handle,
        )

    @staticmethod
    def surface_forms(mentions: DataFrame) -> DataFrame:
        """Distinct normalized surface forms → (surface, entity_id) with
        the MIN linked entity per surface — the per-bucket SURFACE DELTA
        payload: min() is union-compatible (min(min(A), min(B)) ≡
        min(A ∪ B)), so per-bucket deltas re-aggregate at compaction to
        exactly the global distinct set."""
        from cdrc_semantic_search_spark.operators.linking import norm_surface_col

        return (
            mentions.select(
                norm_surface_col(F.col("surface")).alias("surface"),
                "entity_id",
            )
            .groupBy("surface")
            .agg(F.min("entity_id").alias("entity_id"))
        )

    def _cluster_surfaces(self, distinct: DataFrame) -> DataFrame:
        """Cluster a distinct (surface, entity_id) frame: encode → LSH
        candidate pairs ≥ τ → connected components → canonical surface =
        lexicographically smallest member."""
        from cdrc_semantic_search_spark.encoder import make_encoder_udf
        from cdrc_semantic_search_spark.operators.canonicalize import (
            canonicalize_embedded,
        )

        enc = self.settings.encoder
        encode = make_encoder_udf(dim=enc.embed_dim, seed=enc.seed, ngram=enc.ngram)
        ps = self.settings.pipeline
        with_vec = distinct.withColumn("vec", encode(F.col("surface")))
        clusters = canonicalize_embedded(
            with_vec, "surface", "vec", dim=enc.embed_dim,
            threshold=self.CANON_THRESHOLD,
            seed=enc.seed, n_planes=ps.canon_n_planes, n_bands=ps.canon_n_bands,
        ).withColumnRenamed("id", "surface").withColumnRenamed(
            "canonical_id", "canonical_surface"
        )
        return clusters.join(distinct, "surface", "left").select(
            "surface", "canonical_surface", "entity_id"
        )

    def surface_clusters(self, mentions: DataFrame) -> DataFrame:
        """Canonicalization (north_rule stage 3): cluster distinct mention
        surfaces by embedding similarity — LSH-bucketed candidate pairs ≥ τ,
        then connected components (min-label propagation); canonical
        surface = lexicographically smallest member.

        Reference analog: grouping near-identical chunks under one parent
        id (/root/reference/src/model.py:20-23), generalized to surface
        forms. Operates on DISTINCT surfaces — cardinality ≪ mentions, so
        the quadratic-ish clustering never touches the fact table.
        → (surface, canonical_surface, entity_id)
        """
        return self._cluster_surfaces(self.surface_forms(mentions))

    def cluster_representatives(
        self, mentions: DataFrame, clusters: DataFrame | None = None
    ) -> DataFrame:
        """Display-form selection per surface cluster: the member with
        the MOST mention occurrences wins (ties → lexicographically
        smallest surface) → (canonical_surface, representative,
        rep_mentions, n_members, total_mentions). surface_clusters picks
        its cluster KEY as the min member (stable under growth); the
        representative is the consumer-facing name — frequency beats
        alphabetical for display (the most-typed form of an entity).

        One normalized-surface count off the mentions table (map-side
        combinable), one join onto the distinct cluster table (tiny vs
        mentions), one min-of-struct argmax per cluster — no window.
        """
        from cdrc_semantic_search_spark.operators.linking import norm_surface_col

        if clusters is None:
            clusters = self.surface_clusters(mentions)
        counts = (
            mentions.select(norm_surface_col(F.col("surface")).alias("surface"))
            .groupBy("surface")
            .agg(F.count(F.lit(1)).alias("n_mentions"))
        )
        j = clusters.select("surface", "canonical_surface").join(
            counts, "surface"
        )
        return (
            j.groupBy("canonical_surface")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("n_mentions")).alias("negn"),
                        F.col("surface").alias("s"),
                        F.col("n_mentions").alias("n"),
                    )
                ).alias("t"),
                F.count(F.lit(1)).alias("n_members"),
                F.sum("n_mentions").alias("total_mentions"),
            )
            .select(
                "canonical_surface",
                F.col("t.s").alias("representative"),
                F.col("t.n").alias("rep_mentions"),
                "n_members",
                "total_mentions",
            )
        )

    # ---------------------------------------------------------- full runs
    def materialize(
        self,
        transcripts: DataFrame,
        catalog: ParquetTableCatalog,
        source_snapshot: str = "batch",
    ) -> dict[str, int]:
        """Full graph materialization: triples + mentions + kg_nodes +
        kg_edges + surface_clusters written through the catalog (K1/K2
        analog: create-or-replace node/edge tables,
        /root/reference/src/datastore.py:80-95)."""
        tri = self.triples(transcripts)
        catalog.create_or_replace(tri, "triples")
        tri_c = catalog.read_table(self.spark, "triples")

        men = self.mentions(transcripts)
        catalog.create_or_replace(men, "mentions")
        men_c = catalog.read_table(self.spark, "mentions")

        catalog.create_or_replace(self.kg_edges(tri_c), "kg_edges")
        catalog.create_or_replace(self.kg_nodes(men_c), "kg_nodes")
        catalog.create_or_replace(self.surface_clusters(men_c), "surface_clusters")
        return {
            name: catalog.read_table(self.spark, name).count()
            for name in ["triples", "mentions", "kg_edges", "kg_nodes", "surface_clusters"]
        }

    # ------------------------------------------------------------- resumable
    def run_partitioned(
        self,
        transcripts: DataFrame,
        catalog: ParquetTableCatalog,
        source_snapshot: str = "fixture",
        resume: bool = True,
        with_graph: bool = False,
    ) -> list[str]:
        """Per-bucket extraction with ledger commits; returns buckets run.

        Resume semantics (north_rule): buckets already in the ledger are
        skipped; a killed run leaves no partial partition visible
        (data-then-marker ordering in the catalog).

        ``with_graph=True`` additionally commits per-bucket EDGE and NODE
        DELTAS (``edge_deltas`` / ``node_deltas`` tables, same bucket key)
        — the log-structured form of graph materialization: nothing is
        read-modify-written, each bucket's rollup is an independent
        idempotent partition overwrite, and the full graph is recovered
        merge-on-read by :meth:`compacted_edges` / :meth:`compacted_nodes`
        because merge(f(A), f(B)) ≡ f(A ∪ B) (see merge_edge_deltas).
        A crash between the triples commit and its delta commits leaves
        that bucket in the resume set; re-running overwrites the deltas
        in place, so edges are never double-counted.  The edge delta is
        derived by reading BACK the committed triples partition (not by
        re-running extraction), so delta lineage is exactly the committed
        bytes; the node delta re-extracts mentions for its bucket — at
        production scale the two extractions fuse into one pass.

        Lineage consistency on resume: a bucket's deltas must derive from
        triples of the SAME source_snapshot as the current run.  If the
        bucket's triples were committed under a different snapshot (the
        source moved between the crash and the resume), the triples are
        recommitted first — otherwise edge deltas (read back from the old
        bytes) and node deltas (re-extracted from the new transcripts)
        would silently disagree.
        """
        nb = self.settings.pipeline.num_buckets
        bucket = F.pmod(F.xxhash64("conv_id"), F.lit(nb)).cast("int")
        all_parts = [str(i) for i in range(nb)]
        tables = (
            ("triples", "edge_deltas", "node_deltas", "surface_deltas")
            if with_graph
            else ("triples",)
        )
        todo_by_table = {
            t: set(catalog.uncommitted(t, all_parts) if resume else all_parts)
            for t in tables
        }
        if with_graph and resume:
            stale = {
                rec.partition
                for rec in catalog.ledger("triples")
                if rec.source_snapshot != source_snapshot
                and any(
                    rec.partition in todo_by_table[t]
                    for t in ("edge_deltas", "node_deltas", "surface_deltas")
                )
            }
            # a stale bucket recommits EVERY table, not just the missing
            # ones: its surviving deltas were derived from the old
            # snapshot, so keeping them would mix source versions within
            # one bucket (the exact inconsistency this guard exists for).
            # If any of its deltas were already RETIRED into a base,
            # recommitting would double-count on merge-on-read and the old
            # contribution can't be subtracted — refuse loudly.
            folded_stale = {
                t: sorted(stale & catalog.retired_partitions(t))
                for t in tables
            }
            folded_stale = {t: ps for t, ps in folded_stale.items() if ps}
            if folded_stale:
                raise ValueError(
                    "source moved for buckets whose deltas were already "
                    f"compacted into the base: {folded_stale}. Updating a "
                    "compacted graph for changed source needs retraction "
                    "(not implemented) — rebuild the graph catalog instead."
                )
            for t in tables:
                todo_by_table[t] |= stale
        todo = [p for p in all_parts if any(p in todo_by_table[t] for t in tables)]
        with_bucket = transcripts.withColumn("__bucket", bucket)
        ran = []
        from pyspark.sql import Observation

        for part in todo:
            sub = with_bucket.filter(F.col("__bucket") == int(part)).drop("__bucket")
            if part in todo_by_table["triples"]:
                # Observations ride the write action — the kernel's input
                # turn count and the score/link-quality lineage land in
                # the ledger with NO extra job (A6 analog)
                obs_in = Observation(f"turns_part_{part}")
                obs = Observation(f"triples_part_{part}")
                tri = self.triples(
                    sub.observe(obs_in, F.count(F.lit(1)).alias("turn_count"))
                ).observe(
                    obs,
                    F.count(F.lit(1)).alias("triple_count"),
                    F.round(F.avg("score"), 6).alias("avg_link_score"),
                    F.round(F.min("score"), 6).alias("min_link_score"),
                )
                # ledger row_count == triple_count; lineage carries the turn count
                catalog.overwrite_partition(
                    tri,
                    "triples",
                    part,
                    source_snapshot=source_snapshot,
                    metrics_fn=lambda i=obs_in, o=obs: {**i.get, **o.get},
                )
            if with_graph:
                self.commit_graph_deltas(
                    catalog,
                    part,
                    source_snapshot,
                    sub,
                    edges=part in todo_by_table["edge_deltas"],
                    nodes=part in todo_by_table["node_deltas"],
                    surfaces=part in todo_by_table["surface_deltas"],
                )
            ran.append(part)
        return ran

    def commit_graph_deltas(
        self,
        catalog: ParquetTableCatalog,
        partition: str,
        source_snapshot: str,
        transcripts_batch: DataFrame,
        triples_table: str = "triples",
        edges: bool = True,
        nodes: bool = True,
        surfaces: bool = True,
    ) -> None:
        """Commit one partition's edge/node/surface DELTAS — the single
        shared implementation behind both the batch path (run_partitioned)
        and the streaming path (streaming.incremental.stream_triples), so
        the table names, derive-from-committed-bytes rule, and metrics
        shape can never drift apart.

        Edge deltas derive from the COMMITTED triples partition (exact
        lineage); node deltas are the slim mentioned-entities-only counts
        (``mention_counts``); surface deltas are the distinct normalized
        surface forms (``surface_forms``) — all three re-aggregate at
        compaction to exactly the full-batch result by their merge
        algebras.  The batch's mention extraction is persisted across the
        node and surface commits so it runs once, not per table."""
        if edges:
            tri_c = catalog.read_partition(self.spark, triples_table, partition)
            catalog.overwrite_partition(
                self.kg_edges(tri_c),
                "edge_deltas",
                partition,
                source_snapshot=source_snapshot,
                metrics={"derived_from": f"{triples_table}/{partition}"},
            )
        if nodes or surfaces:
            men = self.mentions(transcripts_batch)
            if nodes and surfaces:
                men = men.persist()  # two write actions read it
            try:
                if nodes:
                    catalog.overwrite_partition(
                        self.mention_counts(men),
                        "node_deltas",
                        partition,
                        source_snapshot=source_snapshot,
                    )
                if surfaces:
                    catalog.overwrite_partition(
                        self.surface_forms(men),
                        "surface_deltas",
                        partition,
                        source_snapshot=source_snapshot,
                    )
            finally:
                if nodes and surfaces:
                    men.unpersist()

    @staticmethod
    def _base_table(spark: SparkSession, catalog: ParquetTableCatalog, name: str):
        """The compacted base table if a prior compact_graph wrote one.

        Gated on the generation marker compact_graph maintains: a table
        with the same name written by materialize()/create_or_replace is
        a FULL rebuild, not a generational base — merging it with deltas
        that cover the same data would double every count."""
        import os

        if not os.path.exists(KGPipeline._gen_marker_path(catalog)):
            return None
        path = catalog.table_path(name)
        if os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            return spark.read.parquet(path)
        return None

    @staticmethod
    def compacted_edges(spark: SparkSession, catalog: ParquetTableCatalog) -> DataFrame:
        """Merge-on-read edge table: the compacted BASE (if a prior
        compact_graph retired a delta generation into one) merged with all
        still-committed deltas via merge_edge_deltas — equals the full
        rebuild by the merge algebra.  With no base, just the delta
        aggregation; with no live deltas, just the base."""
        KGPipeline._check_readable(catalog)
        delta = None
        try:
            delta = (
                catalog.read_committed(spark, "edge_deltas")
                .groupBy("subj_entity_id", "pred", "obj_entity_id")
                .agg(
                    F.sum("weight").cast("long").alias("weight"),
                    F.min("first_ts").alias("first_ts"),
                    F.max("last_ts").alias("last_ts"),
                )
            )
        except FileNotFoundError:
            pass
        base = KGPipeline._base_table(spark, catalog, "kg_edges")
        if base is not None and delta is not None:
            return KGPipeline.merge_edge_deltas(base, delta)
        if base is not None:
            return base
        if delta is None:
            raise FileNotFoundError("no committed edge_deltas and no kg_edges base")
        return delta

    def compacted_nodes(self, catalog: ParquetTableCatalog) -> DataFrame:
        """Merge-on-read node table: delta counts sum per entity, one dim
        join restores zero-mention entities, and a compacted BASE (if
        any) folds in via merge_node_deltas — equals kg_nodes over the
        union of the deltas' source batches across generations."""
        self._check_readable(catalog)
        fresh = None
        try:
            counts = (
                catalog.read_committed(self.spark, "node_deltas")
                .groupBy("entity_id")
                .agg(F.sum("n_mentions").cast("long").alias("n_mentions"))
            )
            fresh = self._nodes_from_counts(counts)
        except FileNotFoundError:
            pass
        base = self._base_table(self.spark, catalog, "kg_nodes")
        if base is not None and fresh is not None:
            return self.merge_node_deltas(base, fresh)
        if base is not None:
            return base
        if fresh is None:
            raise FileNotFoundError("no committed node_deltas and no kg_nodes base")
        return fresh

    DELTA_TABLES = ("edge_deltas", "node_deltas", "surface_deltas")
    BASE_TABLES = ("kg_edges", "kg_nodes", "surface_clusters")
    #: cosine threshold for surface canonicalization — part of the
    #: clustering fingerprint, so full and incremental paths must share it
    CANON_THRESHOLD = 0.85

    @staticmethod
    def _gen_marker_path(catalog: ParquetTableCatalog) -> str:
        import os

        return os.path.join(catalog.root, "_graph_generations.json")

    @staticmethod
    def _record_path(catalog: ParquetTableCatalog) -> str:
        import os

        return os.path.join(catalog.root, "_compaction.json")

    @staticmethod
    def _canon_params_path(catalog: ParquetTableCatalog) -> str:
        import os

        return os.path.join(catalog.root, "_canon_params.json")

    def _canon_fingerprint(self) -> dict:
        """The parameters surface clustering is a deterministic function
        of. The incremental patch path (``_cluster_surfaces_incremental``)
        is exact ONLY when the base generation was clustered with the
        same values — persisted alongside the base at compaction and
        checked before going incremental (ADVICE r4)."""
        enc = self.settings.encoder
        ps = self.settings.pipeline
        return {
            "embed_dim": enc.embed_dim,
            "seed": enc.seed,
            "ngram": enc.ngram,
            "threshold": self.CANON_THRESHOLD,
            "n_planes": ps.canon_n_planes,
            "n_bands": ps.canon_n_bands,
        }

    def compact_graph(self, catalog: ParquetTableCatalog) -> dict[str, int]:
        """Generational compaction: fold the current delta generation
        into base tables and RETIRE the folded deltas, opening the next
        generation — the Iceberg rewrite+snapshot-expire lifecycle.

        Protocol (single compactor at a time; roll-forward on crash):
        1. materialize all three merged views into ``.staging`` dirs
           (readers may merge an EXISTING base, so the write must not
           replace a table it is reading — staged swap);
        2. atomically record ``_compaction.json`` naming the delta
           partitions being folded — the compaction commit point;
        3. swap staging → final, then retire the folded partitions
           (marker moves to the retired ledger; data deleted), bump the
           generation marker, remove the record.
        A crash before (2) changes nothing (stale staging is rewritten
        next time); after (2) the NEXT compact_graph or compacted read
        rolls FORWARD — swaps are skip-if-done and retire is idempotent.
        Between (2) and the cleanup, compacted reads RAISE (the record's
        presence gates them) instead of serving a half-compacted state.
        No-op when there are no live deltas and a base generation already
        exists.  Returns per-table row counts."""
        import json
        import os

        record_path = self._record_path(catalog)
        if os.path.exists(record_path):
            self._finish_compaction(catalog, record_path)

        folded = {t: sorted(catalog.committed_partitions(t)) for t in self.DELTA_TABLES}
        if not any(folded.values()) and os.path.exists(self._gen_marker_path(catalog)):
            # nothing to fold — skip three full-table rewrite jobs
            return {
                n: catalog.read_table(self.spark, n).count()
                for n in self.BASE_TABLES
            }
        frames = {
            "kg_edges": self.compacted_edges(self.spark, catalog),
            "kg_nodes": self.compacted_nodes(catalog),
            "surface_clusters": self.compacted_surface_clusters(catalog),
        }
        for name, df in frames.items():
            df.write.mode("overwrite").parquet(catalog.table_path(name) + ".staging")
        tmp = record_path + ".tmp"
        with open(tmp, "w") as f:
            # the fingerprint travels IN the commit record: whoever rolls
            # this compaction forward (possibly a different process with
            # different settings) must stamp the base with the parameters
            # that actually produced the staged frames
            json.dump(
                {"retire": folded, "canon_params": self._canon_fingerprint()},
                f,
            )
        os.replace(tmp, record_path)  # the compaction commit point
        self._finish_compaction(catalog, record_path)
        return {
            n: catalog.read_table(self.spark, n).count()
            for n in self.BASE_TABLES
        }

    @classmethod
    def _finish_compaction(cls, catalog: ParquetTableCatalog, record_path: str) -> None:
        """Roll a recorded compaction forward: swap any staged bases, then
        retire the named delta partitions, bump the generation marker,
        drop the record.  Swap-before-retire means the folded data is
        never absent from BOTH places; the reader gate (the record's
        existence) covers the double-present window in between."""
        import json
        import os
        import shutil

        with open(record_path) as f:
            record = json.load(f)
        folded = record["retire"]
        for name in cls.BASE_TABLES:
            staging = catalog.table_path(name) + ".staging"
            if os.path.isdir(staging):
                final = catalog.table_path(name)
                shutil.rmtree(final, ignore_errors=True)
                os.rename(staging, final)
        for t, parts in folded.items():
            catalog.retire_partitions(t, parts)
        params = record.get("canon_params")
        if params is not None:
            ptmp = cls._canon_params_path(catalog) + ".tmp"
            with open(ptmp, "w") as f:
                json.dump(params, f)
            os.replace(ptmp, cls._canon_params_path(catalog))
        gen_path = cls._gen_marker_path(catalog)
        gen = 0
        if os.path.exists(gen_path):
            with open(gen_path) as f:
                gen = json.load(f).get("generation", 0)
        tmp = gen_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"generation": gen + 1}, f)
        os.replace(tmp, gen_path)
        os.remove(record_path)

    @classmethod
    def _check_readable(cls, catalog: ParquetTableCatalog) -> None:
        """Compacted reads are gated on no compaction being in flight:
        between the compaction commit point and its cleanup, deltas and
        bases can double-represent the folded generation."""
        import os

        if os.path.exists(cls._record_path(catalog)):
            raise RuntimeError(
                "a graph compaction is in flight (or crashed mid-way) on "
                f"{catalog.root}; call compact_graph to roll it forward "
                "before reading the compacted graph"
            )

    def compacted_surface_clusters(self, catalog: ParquetTableCatalog) -> DataFrame:
        """Canonicalization over the ledgered path: re-aggregate the
        committed surface deltas (min entity per surface — min is
        union-compatible) into the global distinct surface set, then run
        the clustering ONCE over it.  Connected components are not
        bucket-decomposable (a cluster can span buckets), so the deltas
        make the clustering's INPUT incremental — cardinality ≪ mentions
        — while the clustering itself is a global compaction-time step;
        equals surface_clusters over the union of the source batches.  A
        compacted BASE (if any) contributes its (surface, entity_id)
        rows to the distinct set before clustering — min is
        union-compatible, so generations compose."""
        self._check_readable(catalog)
        parts = []
        try:
            parts.append(
                catalog.read_committed(self.spark, "surface_deltas").select(
                    "surface", "entity_id"
                )
            )
        except FileNotFoundError:
            pass
        base = self._base_table(self.spark, catalog, "surface_clusters")
        if base is not None:
            parts.append(base.select("surface", "entity_id"))
        if not parts:
            raise FileNotFoundError(
                "no committed surface_deltas and no surface_clusters base"
            )
        allsurf = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        distinct = allsurf.groupBy("surface").agg(
            F.min("entity_id").alias("entity_id")
        )
        if base is None:
            return self._cluster_surfaces(distinct)
        # incremental ≡ full rebuild ONLY under the base generation's
        # clustering parameters; on mismatch (or a legacy base with no
        # stamp) fall back to the full path — always exact, since
        # `distinct` already unions the base's surfaces
        import json
        import os

        stored = None
        params_path = self._canon_params_path(catalog)
        if os.path.exists(params_path):
            with open(params_path) as f:
                stored = json.load(f)
        if stored != self._canon_fingerprint():
            log.warning(
                "surface_clusters base at %s was clustered with %s but "
                "current settings are %s — falling back to a full "
                "re-cluster of the union (exact, but not delta-"
                "proportional)", catalog.root, stored,
                self._canon_fingerprint(),
            )
            return self._cluster_surfaces(distinct)
        return self._cluster_surfaces_incremental(base, distinct)

    def _cluster_surfaces_incremental(
        self, base: DataFrame, distinct: DataFrame
    ) -> DataFrame:
        """Patch the previous generation's converged surface clusters with
        only the NEW surfaces — compaction cost proportional to the delta,
        not the accumulated surface history (at 10^12 mentions the full
        LSH + global CC per compaction is the one step whose cost grows
        with history; this removes it EXACTLY, not approximately).

        Old-old similarity pairs are already folded into the base labels
        (canonical_surface = converged component minimum), so the only
        edges the union's component structure can add are pairs touching
        a new surface: generate exactly those (cosine_pairs_lsh_delta —
        same planes/bands/threshold as the full path, encoder is
        deterministic) and fold them with incremental_components.
        ``incremental_components(cc(E_old), E_new) ≡ cc(E_old ∪ E_new)``,
        so the output hash-matches a from-scratch rebuild — pinned in
        test_streaming's generation test (wave2 compacted over wave1's
        base ≡ one-shot clustering of the union).

        What stays linear in |all surfaces|: the map-only re-encode +
        LSH re-tag (no shuffle; at real scale persist (surface, band,
        bucket) alongside the base and only the delta re-encodes) and
        the label-patch join (one equi-join against the batch-sized
        contracted mapping, which AQE broadcasts). What tracks the
        DELTA: candidate generation, the cosine re-check, and the CC
        itself — the superlinear pieces."""
        from cdrc_semantic_search_spark.encoder import make_encoder_udf
        from cdrc_semantic_search_spark.operators.canonicalize import (
            incremental_components,
        )
        from cdrc_semantic_search_spark.operators.similarity import (
            cosine_pairs_lsh_delta,
        )

        base_labels = base.select(
            F.col("surface").alias("id"),
            F.col("canonical_surface").alias("component"),
        )
        flagged = distinct.join(
            base.select("surface", F.lit(False).alias("__old")).distinct(),
            "surface",
            "left",
        ).select(
            "surface", "entity_id", F.col("__old").isNull().alias("__is_new")
        )
        enc = self.settings.encoder
        encode = make_encoder_udf(dim=enc.embed_dim, seed=enc.seed, ngram=enc.ngram)
        caches: list = []
        ps = self.settings.pipeline
        new_pairs = cosine_pairs_lsh_delta(
            flagged.withColumn("vec", encode(F.col("surface"))),
            "surface",
            "vec",
            dim=enc.embed_dim,
            threshold=self.CANON_THRESHOLD,
            new_col="__is_new",
            seed=enc.seed,
            n_planes=ps.canon_n_planes,
            n_bands=ps.canon_n_bands,
            cache_handle=caches,
        )
        labels = incremental_components(base_labels, new_pairs).localCheckpoint()
        for cached in caches:
            cached.unpersist()
        return distinct.join(
            labels, distinct["surface"] == labels["id"], "left"
        ).select(
            "surface",
            F.coalesce("component", "surface").alias("canonical_surface"),
            "entity_id",
        )


#: Ontology for edge validation: (pred, subj_type, obj_type) rows a
#: well-formed edge may match; '*' is a wildcard. A human-curated schema
#: is dozens of rows — the one dimension in the pipeline that is
#: genuinely bounded (never SF-proportional), hence the forced broadcast
#: in edge_type_profile. The fixture ontology deliberately excludes
#: tool→tool uses_tool and non-data derived_from endpoints so the
#: validation path exercises real violations.
DEFAULT_EDGE_SCHEMA: list[tuple[str, str, str]] = [
    ("uses_tool", "dataset", "tool"),
    ("uses_tool", "metric", "tool"),
    ("uses_tool", "place", "tool"),
    ("uses_tool", "org", "tool"),
    ("located_in", "*", "place"),
    ("derived_from", "dataset", "dataset"),
    ("derived_from", "dataset", "metric"),
    ("derived_from", "metric", "dataset"),
    ("derived_from", "metric", "metric"),
    ("mentions", "*", "*"),
    ("relates_to", "*", "*"),
]


def edge_type_profile(
    edges: DataFrame, nodes: DataFrame, schema: DataFrame
) -> DataFrame:
    """Predicate domain/range validation — the KG-construction quality
    gate that catches systematic extraction errors (a linker drifting
    into tool→tool ``uses_tool`` edges, a place classified as a metric):
    profile every (pred, subj_type, obj_type) combination in the edge
    set and mark whether the ontology ``schema`` (pred, subj_type,
    obj_type; '*' wildcards) allows it.

    → (pred, subj_type, obj_type, n_edges, valid) — integer counts, one
    row per observed combination. Quarantining the offending edges is
    the same plan one join deeper: semi-join edges against the
    ``valid = false`` rows of this profile.

    100-TB shape: the two type lookups join the edge FACTS on entity id
    (node dim is SF-proportional — no forced hint, AQE decides);
    the profile aggregation collapses to |preds|·|types|² rows with
    map-side combine before any schema logic runs; the schema itself is
    the one genuinely bounded dimension (a curated ontology), so it IS
    force-broadcast, and the wildcard match runs on the collapsed
    profile, never per edge.
    """
    subj_t = nodes.select(
        F.col("entity_id").alias("_subj_id"),
        F.col("entity_type").alias("subj_type"),
    )
    obj_t = nodes.select(
        F.col("entity_id").alias("_obj_id"),
        F.col("entity_type").alias("obj_type"),
    )
    typed = (
        edges.select("subj_entity_id", "pred", "obj_entity_id")
        .join(subj_t, F.col("subj_entity_id") == F.col("_subj_id"))
        .join(obj_t, F.col("obj_entity_id") == F.col("_obj_id"))
    )
    prof = typed.groupBy("pred", "subj_type", "obj_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )
    s = schema.select(
        F.col("pred").alias("_s_pred"),
        F.col("subj_type").alias("_s_subj"),
        F.col("obj_type").alias("_s_obj"),
    )
    cond = (
        (F.col("pred") == F.col("_s_pred"))
        & ((F.col("_s_subj") == "*") | (F.col("_s_subj") == F.col("subj_type")))
        & ((F.col("_s_obj") == "*") | (F.col("_s_obj") == F.col("obj_type")))
    )
    hit = prof.join(F.broadcast(s), cond, "left_semi").withColumn(
        "valid", F.lit(True)
    )
    miss = prof.join(F.broadcast(s), cond, "left_anti").withColumn(
        "valid", F.lit(False)
    )
    return hit.unionByName(miss)
