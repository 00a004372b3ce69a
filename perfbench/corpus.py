"""Seeded benchmark inputs and the references their outputs are checked against.

Transcripts come from the fixture generator's per-conversation streams
(``fixtures._gen_conversation``, the function both ``fixtures.generate`` and
``fixtures.generate_spark`` call), so a corpus is a pure function of
(seed, sizes). Everything here runs before Spark starts and outside every
timed region: the oracle triples (``oracle.oracle_triples``) and the linking
funnel counts are computed with the program's pure functions, never with
Spark.

Large corpora are built in a spawn pool, one conversation chunk per task,
because single-process generation plus the oracle costs about 35 s for
190k turns.
"""

from __future__ import annotations

import gc
import multiprocessing
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from cdrc_semantic_search_spark import fixtures
from cdrc_semantic_search_spark.config import Settings
from cdrc_semantic_search_spark.encoder import normalize_surface
from cdrc_semantic_search_spark.operators.extraction_core import AliasMatcher, extract_turn
from cdrc_semantic_search_spark.operators.linking import _topk_blend, build_entity_index
from cdrc_semantic_search_spark.oracle import oracle_triples

#: turns per pool task; hot conversations (the first 5%) hold ~360 turns each
_CHUNK_TURNS = 5000


@dataclass
class Corpus:
    seed: int
    n_conversations: int
    transcripts: pd.DataFrame  # conversation order, fixtures.TRANSCRIPT_COLUMNS
    entities: pd.DataFrame
    oracle: pd.DataFrame | None  # oracle.oracle_triples over ``transcripts``
    funnel: dict[str, float] = field(default_factory=dict)

    @property
    def n_turns(self) -> int:
        return len(self.transcripts)

    def conversation_slices(self, parts: int) -> list[tuple[int, int]]:
        """Row ranges of ``parts`` contiguous conversation ranges, split the
        way ``spark.range(0, n, numPartitions=parts)`` splits conversation
        ids in ``fixtures.generate_spark`` (so the hot conversations, which
        come first, land together)."""
        conv_ix = self.transcripts["conv_id"].str.slice(5).astype(np.int64).to_numpy()
        n = self.n_conversations
        bounds = [i * n // parts for i in range(parts + 1)]
        rows = np.searchsorted(conv_ix, bounds, side="left")
        return [(int(rows[i]), int(rows[i + 1])) for i in range(parts)]


def _generate(args: tuple) -> pd.DataFrame:
    """Transcripts of conversations [lo, hi). Runs in a pool."""
    seed, n_conv, n_ent, perturb, lo, hi = args
    payload = fixtures._payload(fixtures._make_entities(seed, n_ent))
    rows: list[tuple] = []
    for c in range(lo, hi):
        r, _ = fixtures._gen_conversation(c, n_conv, seed, payload, perturb)
        rows.extend(r)
    tdf = pd.DataFrame(rows, columns=fixtures.TRANSCRIPT_COLUMNS)
    tdf["turn_idx"] = tdf["turn_idx"].astype("int32")
    return tdf


def _references(args: tuple) -> tuple[pd.DataFrame | None, dict | None]:
    """Oracle triples and linking funnel of a slice of turns. Runs in a pool."""
    tdf, seed, n_ent, with_oracle, with_funnel = args
    entities = fixtures._make_entities(seed, n_ent)
    oracle = oracle_triples(tdf, entities) if with_oracle else None
    return oracle, _funnel_counts(tdf, entities) if with_funnel else None


def _funnel_counts(tdf: pd.DataFrame, entities: pd.DataFrame) -> dict:
    """Linking funnel of the fused kernel, replayed with its pure functions:
    relation arguments resolved by the alias map, the distinct surfaces
    sent to the embedding fallback, and relations dropped as self-loops."""
    settings = Settings()
    matcher = AliasMatcher(
        [(r.entity_id, [r.canonical_name, *list(r.aliases)]) for r in entities.itertuples()]
    )
    alias_map = matcher.alias_to_entity
    pairs: list[tuple[str, str]] = []
    alias_hits = 0
    unknown: set[str] = set()
    for text in tdf["text"].tolist():
        for _pred, subj, obj in extract_turn(text or "", matcher)[1]:
            keys = (normalize_surface(subj.surface), normalize_surface(obj.surface))
            for key in keys:
                if key in alias_map:
                    alias_hits += 1
                else:
                    unknown.add(key)
            pairs.append(keys)
    forms = sorted(unknown)
    index = build_entity_index(entities, settings)
    rr = settings.retrieval
    ranked = _topk_blend(index, forms, k=1, alpha=rr.alpha, mode=rr.query_mode)
    links = {f: (r[0][0] if r and r[0][1] >= rr.link_threshold else None) for f, r in zip(forms, ranked)}
    below = {f for f, eid in links.items() if eid is None}
    self_loops = 0
    for s_key, o_key in pairs:
        s_id = alias_map.get(s_key) or links.get(s_key)
        o_id = alias_map.get(o_key) or links.get(o_key)
        if s_id is not None and s_id == o_id:
            self_loops += 1
    return {
        "alias_hits": alias_hits,
        "self_loops": self_loops,
        "fallback": unknown,
        "below": below,
    }


def _chunks(seed: int, n_conv: int, n_ent: int, perturb: float) -> list[tuple]:
    """Conversation ranges of roughly equal expected turn count."""
    n_hot = max(1, n_conv * 5 // 100)
    out = []
    lo = 0
    while lo < n_conv:
        per = max(1, _CHUNK_TURNS // (360 if lo < n_hot else 14))
        hi = min(n_conv, lo + per, n_hot) if lo < n_hot else min(n_conv, lo + per)
        out.append((seed, n_conv, n_ent, perturb, lo, hi))
        lo = hi
    return out


def build(
    seed: int,
    n_conversations: int,
    n_turns: int,
    n_entities: int,
    perturb_rate: float,
    with_oracle: bool,
    processes: int,
    with_funnel: bool = True,
) -> Corpus:
    """The first ``n_turns`` turns, in conversation order, of the
    ``n_conversations`` the fixture generator makes for ``seed``.

    The generator draws each hot conversation's length at random, so its
    total turn count moves by a few percent from seed to seed (by more on
    small corpora); cutting it to a fixed count keeps the amount of work
    the same for every seed. ``n_conversations`` is chosen so that every
    seed makes more than ``n_turns``. ``processes`` > 1 uses a spawn pool.
    Without ``with_funnel`` the linking funnel is left empty.
    """
    tasks = _chunks(seed, n_conversations, n_entities, perturb_rate)
    pool = None
    if processes > 1:
        pool = multiprocessing.get_context("spawn").Pool(processes)
    try:
        run = pool.map if pool is not None else (lambda f, xs, chunksize=1: [f(x) for x in xs])
        transcripts = pd.concat(run(_generate, tasks, chunksize=1), ignore_index=True)
        transcripts = transcripts.iloc[:n_turns].reset_index(drop=True)
        step = -(-len(transcripts) // max(1, 2 * processes))
        slices = [
            (transcripts.iloc[a : a + step], seed, n_entities, with_oracle, with_funnel)
            for a in range(0, len(transcripts), step)
        ]
        parts = run(_references, slices, chunksize=1)
    finally:
        if pool is not None:
            pool.close()
            pool.join()
    if pool is not None:
        # the pool started a resource-tracker process that would otherwise
        # live until this process exits; release the pool's semaphores first
        # so the tracker has nothing left to clean up
        del pool, run
        gc.collect()
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
    oracle = pd.concat([p[0] for p in parts], ignore_index=True) if with_oracle else None
    entities = fixtures._make_entities(seed, n_entities)
    if not with_funnel:
        return Corpus(seed, _n_conversations(transcripts), transcripts, entities, oracle)
    fallback = set().union(*(p[1]["fallback"] for p in parts))
    funnel = {
        "alias_hits": sum(p[1]["alias_hits"] for p in parts),
        "fallback_forms": len(fallback),
        "below_threshold": len(set().union(*(p[1]["below"] for p in parts))),
        "self_loops_dropped": sum(p[1]["self_loops"] for p in parts),
        "fallback_s": _fallback_seconds(entities, sorted(fallback)),
    }
    return Corpus(seed, _n_conversations(transcripts), transcripts, entities, oracle, funnel)


def _n_conversations(transcripts: pd.DataFrame) -> int:
    return int(transcripts["conv_id"].str.slice(5).astype(np.int64).max()) + 1


def _fallback_seconds(entities: pd.DataFrame, forms: list[str], reps: int = 3) -> float:
    """Median wall time of one batched ``_topk_blend`` over every distinct
    fallback surface: the embedding-fallback cost a cold link cache pays."""
    settings = Settings()
    index = build_entity_index(entities, settings)
    rr = settings.retrieval
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _topk_blend(index, forms, k=1, alpha=rr.alpha, mode=rr.query_mode)
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]
