"""Spark mention/relation extraction over transcript turns.

``mapInPandas`` operators wrapping the pure extraction core
(operators/extraction_core.py).  The entity catalogue is broadcast once
(``sc.broadcast``) and each Python worker builds the alias automaton a
single time per broadcast epoch, then streams Arrow batches through it —
no per-row Python dispatch, no per-batch setup cost
(BASELINE.json input_hint: "vectorized pandas/Arrow UDFs throughout").

Reference analog: the reference has no sub-chunk extraction (whole chunks
are the retrieval unit); this is the KG graft's D6 operator (SURVEY §2.11).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.functions.scale import fan_in
from cdrc_semantic_search_spark.operators.extraction_core import (
    AliasMatcher,
    extract_turn,
)

# worker-side matcher cache, keyed by a per-broadcast token: the automaton is
# built once per python worker per broadcast epoch, then reused across tasks
_MATCHER_CACHE: dict[str, AliasMatcher] = {}


def _get_matcher(bc) -> AliasMatcher:
    token, payload = bc.value  # bc.value itself is worker-cached by PySpark
    m = _MATCHER_CACHE.get(token)
    if m is None:
        m = AliasMatcher(payload)
        _MATCHER_CACHE.clear()
        _MATCHER_CACHE[token] = m
    return m


def broadcast_catalogue(spark, entities_pdf: pd.DataFrame):
    """Broadcast (token, [(entity_id, [canonical_name, *aliases])])."""
    import uuid

    payload = [
        (row.entity_id, [row.canonical_name, *list(row.aliases)])
        for row in entities_pdf.itertuples()
    ]
    return spark.sparkContext.broadcast((uuid.uuid4().hex, payload))


MENTIONS_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, mention_idx int, surface string, "
    "start int, end int, exact boolean"
)

CANDIDATES_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, rel_idx int, pred string, "
    "subj_surface string, subj_exact boolean, "
    "obj_surface string, obj_exact boolean"
)


def extract_mentions(transcripts: DataFrame, bc_catalogue) -> DataFrame:
    """transcripts → mentions(conv_id, turn_idx, mention_idx, surface, start, end, exact)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = _get_matcher(bc_catalogue)
        for pdf in batches:
            rows = []
            for conv_id, turn_idx, ts, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["ts"], pdf["text"]
            ):
                mentions, _ = extract_turn(text or "", matcher)
                for mi, m in enumerate(mentions):
                    rows.append(
                        (conv_id, turn_idx, ts, mi, m.surface, m.start, m.end, m.exact)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "conv_id", "turn_idx", "ts", "mention_idx", "surface",
                    "start", "end", "exact",
                ],
            )

    return fan_in(transcripts.select("conv_id", "turn_idx", "ts", "text")).mapInPandas(
        run, schema=MENTIONS_SCHEMA
    )


def extract_candidates(transcripts: DataFrame, bc_catalogue) -> DataFrame:
    """transcripts → relation candidates with surface forms (pre-linking)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = _get_matcher(bc_catalogue)
        for pdf in batches:
            rows = []
            for conv_id, turn_idx, ts, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["ts"], pdf["text"]
            ):
                _, relations = extract_turn(text or "", matcher)
                for ri, (pred, subj, obj) in enumerate(relations):
                    rows.append(
                        (
                            conv_id, turn_idx, ts, ri, pred,
                            subj.surface, subj.exact,
                            obj.surface, obj.exact,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "conv_id", "turn_idx", "ts", "rel_idx", "pred",
                    "subj_surface", "subj_exact", "obj_surface", "obj_exact",
                ],
            )

    return fan_in(transcripts.select("conv_id", "turn_idx", "ts", "text")).mapInPandas(
        run, schema=CANDIDATES_SCHEMA
    )


# ---------------------------------------------------------------------------
# Fused extraction + linking (the map-only production plan)
# ---------------------------------------------------------------------------

TRIPLES_SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, "
    "subj_entity_id string, pred string, obj_entity_id string, score double"
)

def extract_linked_triples(
    transcripts: DataFrame,
    bc_catalogue,
    bc_index,
    alpha: float,
    link_threshold: float,
    query_mode: str = "hybrid",
) -> DataFrame:
    """transcripts → fully linked triples in ONE mapInPandas pass.

    The scale-defining plan shape: extraction, exact alias linking and the
    embedding fallback all run inside one Arrow batch against
    broadcast-only state (alias automaton + entity index) — a map-only
    stage with ZERO shuffles on the fact table.  The join-based
    formulation (plans/kg_pipeline.triples_joined) is semantically
    identical (tested) but pays four shuffle stages; at 10^12 turns the
    difference is the whole game.

    Task-side memoization: surfaces repeat heavily (hot entities), so
    embedding fallbacks hit a per-task cache keyed by normalized form. It
    is a local of ``run``, bounded by the task's distinct surfaces; a
    module-level dict would not outlive the task either, because
    cloudpickle ships a copy of each module global the closure names.
    """
    from cdrc_semantic_search_spark.encoder import normalize_surface
    from cdrc_semantic_search_spark.operators.linking import _topk_blend

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = _get_matcher(bc_catalogue)
        _, index = bc_index.value
        # per-task link cache: normalized surface → (entity_id|None, score)
        cache: dict[str, tuple] = {}
        alias_map = matcher.alias_to_entity

        for pdf in batches:
            pending: list[tuple] = []  # (conv, turn, ts, pred, s_key, o_key)
            unknown: set[str] = set()
            # plain-list iteration: pandas Series iteration pays per-item
            # overhead that dominates at ~20 us/turn of real work
            for conv_id, turn_idx, ts, text in zip(
                pdf["conv_id"].tolist(),
                pdf["turn_idx"].tolist(),
                pdf["ts"].tolist(),
                pdf["text"].tolist(),
            ):
                _, relations = extract_turn(text or "", matcher)
                for pred, subj, obj in relations:
                    s_key = normalize_surface(subj.surface)
                    o_key = normalize_surface(obj.surface)
                    for key in (s_key, o_key):
                        if key not in alias_map and key not in cache:
                            unknown.add(key)
                    pending.append((conv_id, turn_idx, ts, pred, s_key, o_key))

            if unknown:  # one batched encode+top-k for all new surfaces
                forms = sorted(unknown)
                ranked = _topk_blend(index, forms, k=1, alpha=alpha, mode=query_mode)
                for form, r in zip(forms, ranked):
                    if r and r[0][1] >= link_threshold:
                        cache[form] = (r[0][0], r[0][1])
                    else:
                        cache[form] = (None, float("nan"))

            # column-wise assembly: DataFrame-from-dict-of-lists avoids the
            # per-row tuple boxing of DataFrame-from-records
            c_conv, c_turn, c_ts, c_s, c_p, c_o, c_sc = [], [], [], [], [], [], []
            for conv_id, turn_idx, ts, pred, s_key, o_key in pending:
                s_id, s_score = (
                    (alias_map[s_key], 1.0) if s_key in alias_map else cache[s_key]
                )
                o_id, o_score = (
                    (alias_map[o_key], 1.0) if o_key in alias_map else cache[o_key]
                )
                if s_id is not None and o_id is not None and s_id != o_id:
                    c_conv.append(conv_id)
                    c_turn.append(turn_idx)
                    c_ts.append(ts)
                    c_s.append(s_id)
                    c_p.append(pred)
                    c_o.append(o_id)
                    c_sc.append(s_score if s_score < o_score else o_score)
            # explicit dtypes: an all-empty batch would otherwise default
            # every column to float64, which Arrow can't cast to timestamp
            yield pd.DataFrame(
                {
                    "conv_id": pd.Series(c_conv, dtype="object"),
                    "turn_idx": pd.Series(c_turn, dtype="int32"),
                    "ts": pd.Series(c_ts, dtype="datetime64[us]"),
                    "subj_entity_id": pd.Series(c_s, dtype="object"),
                    "pred": pd.Series(c_p, dtype="object"),
                    "obj_entity_id": pd.Series(c_o, dtype="object"),
                    "score": pd.Series(c_sc, dtype="float64"),
                }
            )

    return fan_in(transcripts.select("conv_id", "turn_idx", "ts", "text")).mapInPandas(
        run, schema=TRIPLES_SCHEMA
    )


def extract_linked_triples_arrow(
    transcripts: DataFrame,
    bc_catalogue,
    bc_index,
    alpha: float,
    link_threshold: float,
    query_mode: str = "hybrid",
) -> DataFrame:
    """``mapInArrow`` twin of :func:`extract_linked_triples`.

    Skips the pandas materialization on BOTH sides of the worker: inputs
    come as pyarrow RecordBatches (string column → one ``to_pylist``
    call, no pandas object-array construction), outputs are built as
    pyarrow arrays directly. Same semantics bit-for-bit (tested); ~the
    serde share of task time is roughly equal to the extraction compute,
    so shaving it matters at 10^12 turns.
    """
    import pyarrow as pa

    from cdrc_semantic_search_spark.encoder import normalize_surface
    from cdrc_semantic_search_spark.operators.linking import _topk_blend

    def run(batches):
        matcher = _get_matcher(bc_catalogue)
        _, index = bc_index.value
        # per-task link cache: normalized surface → (entity_id|None, score)
        cache: dict[str, tuple] = {}
        alias_map = matcher.alias_to_entity

        for batch in batches:
            conv = batch.column("conv_id").to_pylist()
            turn = batch.column("turn_idx").to_pylist()
            ts = batch.column("ts")
            text = batch.column("text").to_pylist()
            ts_type = ts.type

            pending = []
            unknown: set[str] = set()
            for i, t in enumerate(text):
                _, relations = extract_turn(t or "", matcher)
                for pred, subj, obj in relations:
                    s_key = normalize_surface(subj.surface)
                    o_key = normalize_surface(obj.surface)
                    for key in (s_key, o_key):
                        if key not in alias_map and key not in cache:
                            unknown.add(key)
                    pending.append((i, pred, s_key, o_key))

            if unknown:
                forms = sorted(unknown)
                ranked = _topk_blend(index, forms, k=1, alpha=alpha, mode=query_mode)
                for form, r in zip(forms, ranked):
                    if r and r[0][1] >= link_threshold:
                        cache[form] = (r[0][0], r[0][1])
                    else:
                        cache[form] = (None, float("nan"))

            idxs, c_s, c_p, c_o, c_sc = [], [], [], [], []
            for i, pred, s_key, o_key in pending:
                s_id, s_score = (
                    (alias_map[s_key], 1.0) if s_key in alias_map else cache[s_key]
                )
                o_id, o_score = (
                    (alias_map[o_key], 1.0) if o_key in alias_map else cache[o_key]
                )
                if s_id is not None and o_id is not None and s_id != o_id:
                    idxs.append(i)
                    c_s.append(s_id)
                    c_p.append(pred)
                    c_o.append(o_id)
                    c_sc.append(s_score if s_score < o_score else o_score)

            take = pa.array(idxs, type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([conv[i] for i in idxs], type=pa.string()),
                    pa.array([turn[i] for i in idxs], type=pa.int32()),
                    ts.take(take),
                    pa.array(c_s, type=pa.string()),
                    pa.array(c_p, type=pa.string()),
                    pa.array(c_o, type=pa.string()),
                    pa.array(c_sc, type=pa.float64()),
                ],
                names=[
                    "conv_id", "turn_idx", "ts",
                    "subj_entity_id", "pred", "obj_entity_id", "score",
                ],
            )

    return fan_in(transcripts.select("conv_id", "turn_idx", "ts", "text")).mapInArrow(
        run, schema=TRIPLES_SCHEMA
    )
