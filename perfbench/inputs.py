"""Seeded input generators: corpora, search calls and DynamoDB stream batches.

Everything here is a pure function of the seed, so the same seed gives
byte-identical inputs. The seed offsets the synthetic corpus' doc ids
(``sources.synthetic.corpus_pdf`` derives every document from its id) and
seeds every sampling choice; the engine only ever sees the generated rows.
"""

from __future__ import annotations

import json
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from dynamo2es_lambda_spark.sources import dynamo_json, synthetic

# seed s draws its documents from ids [s * STRIDE, (s + 1) * STRIDE)
DOC_ID_STRIDE = 10_000_000

# the two tokens every CDC upsert appends: a constant one and a per-batch
# marker, so "zqmark <marker>" is a phrase only that batch's upserts hold
MARK = "zqmark"
STALE = "zqstale"


def rng(seed: int, purpose: str) -> np.random.Generator:
    """Independent stream per (seed, purpose), stable across numpy runs."""
    return np.random.default_rng([seed, *purpose.encode()])


def corpus(seed: int, n: int, start: int = 0) -> pd.DataFrame:
    """Synthetic code corpus rows ``start .. start + n`` of the seed's range,
    with a ``doc_id`` column (the engine's default key: repo.path.commit)."""
    base = seed * DOC_ID_STRIDE + start
    pdf = synthetic.corpus_pdf(np.arange(base, base + n, dtype=np.int64))
    pdf["doc_id"] = pdf["repo"] + "." + pdf["path"] + "." + pdf["commit"]
    return pdf


# ---------------------------------------------------------------- searches

@dataclass(frozen=True)
class Call:
    """One search-API invocation: ``kind`` picks the API and mode, each
    query is a string (OR / AND / phrase) or a (must, should, must_not)
    triple (bool)."""

    kind: str  # or_wand | or_exhaustive | and | phrase | bool
    queries: tuple


# The synthetic corpus draws its tokens from a fixed vocabulary under a
# Zipf law. Its first 30 entries, language keywords, are the head that
# sources/synthetic.py marks as hot; each is in 40-100% of the documents.
# Hot queries combine 2-3 of them, like the hot cases of the repo's
# reference query set (synthetic.queries_pdf: "return function",
# "class struct impl").
HOT_TERMS = tuple(synthetic.vocabulary()[:30])


@dataclass
class Pools:
    selective: list[str]
    selective_phrases: list[str]


def make_pools(toks: list[list[str]], r: np.random.Generator) -> Pools:
    """Selective pools from the tokenized corpus: the low-df half of the
    dictionary, and phrases sampled from real adjacent token pairs that
    start with such a term, so that they match."""
    df = Counter()
    for t in toks:
        df.update(set(t))
    cut = float(np.median(list(df.values())))
    selective = sorted(t for t in df if df[t] <= cut)
    sel_set = set(selective)
    sample = r.choice(len(toks), size=min(400, len(toks)), replace=False)
    pairs = sorted({p for d in sample.tolist()
                    for p in zip(toks[d], toks[d][1:]) if p[0] in sel_set})
    return Pools(selective, [" ".join(p) for p in pairs])


def _terms(r: np.random.Generator, pool, k: int) -> str:
    return " ".join(r.choice(pool, size=k, replace=False).tolist())


def _query(kind: str, hot: bool, pools: Pools, r: np.random.Generator):
    sel, hp = pools.selective, HOT_TERMS
    if kind in ("or_wand", "or_exhaustive"):
        return (_terms(r, hp, int(r.integers(2, 4))) if hot
                else _terms(r, sel, int(r.integers(1, 3))))
    if kind == "and":
        return _terms(r, hp, 2) if hot else f"{_terms(r, sel, 1)} " \
            f"{_terms(r, hp, 1)}"
    if kind == "phrase":
        return (_terms(r, hp, 2) if hot
                else pools.selective_phrases[
                    int(r.integers(len(pools.selective_phrases)))])
    if kind == "bool":
        return (_terms(r, hp if hot else sel, 1), _terms(r, hp, 1),
                _terms(r, sel, 1))
    raise ValueError(kind)


def query_pool(kind: str, hot: bool, pools: Pools, r: np.random.Generator,
               size: int, max_draws: int = 10_000) -> list:
    """``size`` distinct queries of one kind, in draw order."""
    out: dict = {}
    for _ in range(max_draws):
        if len(out) == size:
            return list(out)
        out.setdefault(_query(kind, hot, pools, r), None)
    raise ValueError(f"cannot draw {size} distinct {kind} queries")


# One block of each search workload's call sequence: (kind, queries per
# call, distinct queries in the kind's pool). Every block holds each kind
# once, in a seeded order, so any run of whole blocks sees the same mix.
# A call samples its queries from the pool without replacement, so no
# call repeats a query.
SELECTIVE_BLOCK = (("or_wand", 1, 16), ("or_exhaustive", 1, 16),
                   ("and", 1, 8), ("bool", 1, 8))
# A hot call's pool is exactly its size: each call of a kind answers the
# same queries in a new order, so the untimed oracle answers each once.
HOT_BLOCK = (("or_wand", 32, 32), ("and", 32, 32), ("phrase", 12, 12))
# The one API each block leaves out. Set-up warms every kind: the first
# call of a kind in a session runs up to twice as long as later ones.
SELECTIVE_WARM = "phrase"
HOT_WARM = "bool"


def search_calls(seed: int, pools: Pools, hot: bool,
                 n_blocks: int) -> tuple[list[Call], list[list[Call]]]:
    """(warm-up calls, blocks of the seeded call sequence) of a search
    workload. The warm-up calls are one-query calls of the left-out kind
    and then of each block kind, so every search function runs in every
    run."""
    r = rng(seed, "hot" if hot else "selective")
    block = HOT_BLOCK if hot else SELECTIVE_BLOCK
    warm = HOT_WARM if hot else SELECTIVE_WARM
    qpools = {k: query_pool(k, hot, pools, r, size)
              for k, _, size in ((warm, 1, 1), *block)}

    def call(kind: str, n: int, size: int) -> Call:
        qp = qpools[kind]
        return Call(kind, tuple(qp[int(i)]
                                for i in r.choice(size, size=n,
                                                  replace=False)))

    return ([Call(k, (qp[0],)) for k, qp in qpools.items()],
            [[call(*block[i]) for i in r.permutation(len(block))]
             for _ in range(n_blocks)])


# ------------------------------------------------------------- CDC stream

@dataclass
class Batch:
    index: int
    marker: str
    records: list[str]  # raw DynamoDB stream record JSON
    upserts: int  # distinct keys indexed after last-writer-wins
    deletes: int


@dataclass
class _Doc:
    row: dict
    content: str
    version: int


# A batch's event mix is that of bench.py's CDC task: MODIFY, REMOVE and
# INSERT 10%, 5% and 5% of its base, so half, a quarter and a quarter of
# the batch. DUP_EVERY-th of the MODIFY events is a losing lower version
# of another key the batch modifies; the duplicate share is this
# benchmark's own choice, since bench.py sends no duplicates.
DUP_EVERY = 10
# each batch has NEEDLES "needle" tokens, each on NEEDLE_DOCS of its
# inserted documents: low-df terms for selective read-after-write probes
NEEDLES = 3
NEEDLE_DOCS = 3


@dataclass
class StreamModel:
    """The live-document state a CDC stream should leave in the store.

    Each batch MODIFYs, REMOVEs and INSERTs documents. Upserted documents
    carry ``zqmark <marker>``; a later MODIFY replaces the previous marker,
    and a losing duplicate version carries ``zqstale`` instead. The first
    inserted documents also carry one of the batch's needle tokens."""

    seed: int
    docs: dict[str, _Doc] = field(default_factory=dict)
    next_id: int = 0
    batches: int = 0

    @classmethod
    def from_base(cls, seed: int, base: pd.DataFrame) -> StreamModel:
        m = cls(seed=seed, next_id=len(base))
        for row in base.to_dict("records"):
            m.docs[row["doc_id"]] = _Doc(row, row["content"], 0)
        return m

    def marker(self, b: int) -> str:
        return f"zq{self.seed}b{b}"

    def needles(self, b: int) -> list[str]:
        return [f"{self.marker(b)}n{i}" for i in range(NEEDLES)]

    def live_with(self, token: str) -> set[str]:
        return {k for k, d in self.docs.items() if token in d.content.split()}

    def live_frame(self) -> pd.DataFrame:
        return pd.DataFrame(
            {"doc_id": list(self.docs),
             "content": [d.content for d in self.docs.values()]}
        )

    @staticmethod
    def _image(row: dict, content: str, version: int) -> dict:
        return {"repo": row["repo"], "path": row["path"],
                "commit": row["commit"], "lang": row["lang"],
                "content": content, "version": version}

    @staticmethod
    def _keys(row: dict) -> dict:
        return {"repo": row["repo"], "path": row["path"],
                "commit": row["commit"]}

    def next_batch(self, n_events: int) -> Batch:
        b = self.batches
        self.batches += 1
        r = rng(self.seed, f"cdc-{b}")
        mk = self.marker(b)
        n_modify = n_events // 2
        n_rem = n_events // 4
        n_ins = n_events - n_modify - n_rem
        n_dup = n_modify // DUP_EVERY
        n_mod = n_modify - n_dup

        keys = sorted(self.docs)
        picks = r.choice(len(keys), size=n_mod + n_rem, replace=False)
        mods = [keys[i] for i in picks[:n_mod]]
        rem = sorted(keys[i] for i in picks[n_mod:])
        dups = set(r.choice(mods, size=n_dup, replace=False).tolist())

        events = []
        for k in mods:
            d = self.docs[k]
            new = f"{d.row['content']} {MARK} {mk}"
            old = self._image(d.row, d.content, d.version)
            if k in dups:
                events.append(dynamo_json.format_stream_record(
                    "MODIFY", self._keys(d.row),
                    self._image(d.row, f"{d.row['content']} {STALE}",
                                d.version + 1), old))
                d.version += 2
            else:
                d.version += 1
            events.append(dynamo_json.format_stream_record(
                "MODIFY", self._keys(d.row),
                self._image(d.row, new, d.version), old))
            d.content = new
        for k in rem:
            d = self.docs.pop(k)
            events.append(dynamo_json.format_stream_record(
                "REMOVE", self._keys(d.row), None,
                self._image(d.row, d.content, d.version)))
        fresh = corpus(self.seed, n_ins, start=self.next_id)
        self.next_id += n_ins
        for i, row in enumerate(fresh.to_dict("records")):
            content = f"{row['content']} {MARK} {mk}"
            if i < NEEDLES * NEEDLE_DOCS:
                content += f" {self.needles(b)[i // NEEDLE_DOCS]}"
            self.docs[row["doc_id"]] = _Doc(row, content, 1)
            events.append(dynamo_json.format_stream_record(
                "INSERT", self._keys(row), self._image(row, content, 1)))
        order = r.permutation(len(events))
        return Batch(b, mk, [events[i] for i in order],
                     upserts=n_mod + n_ins, deletes=n_rem)


def record_bytes(records: list[str]) -> int:
    return sum(len(s.encode()) for s in records)


def images(records: list[str]) -> list[dict]:
    """The NewImage/OldImage maps of raw records (kernel inputs)."""
    out = []
    for s in records:
        dyn = json.loads(s)["dynamodb"]
        out.extend(dyn[k] for k in ("NewImage", "OldImage") if k in dyn)
    return out
