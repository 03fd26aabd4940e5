"""The benchmark's four workloads, each a single-client closed loop.

Every workload sets up its stores, warms each kind of call, then calls the
engine back to back until the engine time spent reaches the run length.
Every call's output is checked against ``tests/oracle.PyOracle`` (or the
stream model); a call that raises or fails its check counts as failed and
the run goes on. Oracle and model time is kept out of every timing.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd

from dynamo2es_lambda_spark import IndexerConfig
from dynamo2es_lambda_spark.plans import build, cdc, search
from dynamo2es_lambda_spark.sources import dynamo_json
from dynamo2es_lambda_spark.streaming import apply_cdc
from tests.oracle import PyOracle

from . import inputs, kernels
from .trace import Tracer

# input sizes (documents / events); see README.md for why they are this size
BUILD_DOCS = 8000
# bench.py's CDC task in proportion: batches of a fifth of the base
STREAM_BASE_DOCS = 1000
STREAM_BATCH_EVENTS = 200
COMPACT_EVERY = 3
SEARCH_DOCS = 12000
K = 10
SCORE_TOL = 1e-6

CORPUS_SCHEMA = ("repo string, path string, commit string, lang string, "
                 "content string")
PLAIN_CFG = IndexerConfig(index="code")
CDC_CFG = IndexerConfig(index="code", version_field="version",
                        record_error_hook=lambda df: None)

BUILD = "plans.build.build_index"
APPLY = "plans.cdc.apply_changes"
COMPACT = "plans.cdc.compact_store"
DECODE = "sources.dynamo_json.decode_stream_events"
SEARCH = "plans.search.search"
PHRASE = "plans.search.search_phrase"
BOOL = "plans.search.search_bool"
LOAD = "plans.search.load_store"
SPANS = (BUILD, APPLY, COMPACT, DECODE, SEARCH, PHRASE, BOOL)
WRITE_SPANS = (BUILD, APPLY, COMPACT)
SEARCH_SPANS = (SEARCH, PHRASE, BOOL)


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    nproc: int
    tmp: str
    tracer: Tracer
    traced: bool
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    samples: dict = field(default_factory=dict)  # timing name -> values
    totals: dict = field(default_factory=dict)  # count name -> sum
    setup_s: float = 0.0
    store: str = ""  # the store the per-layer table sizes are read from
    kernel_texts: pd.Series | None = None
    kernel_records: list = field(default_factory=list)

    def path(self, name: str) -> str:
        return os.path.join(self.tmp, "data", name)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def fail(self, what: str, err: BaseException) -> None:
        self.check(False, f"{what}: {type(err).__name__}: {err}")

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def add(self, name: str, value: float) -> None:
        self.totals[name] = self.totals.get(name, 0.0) + value


# ------------------------------------------------------------ store helpers

def _files(path: str) -> dict[str, tuple[int, int]]:
    """relpath -> (size, mtime_ns) of the regular data files under path
    (dot-files are the local filesystem's checksums, not store data)."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith("."):
                continue
            st = os.stat(os.path.join(root, n))
            out[os.path.relpath(os.path.join(root, n), path)] = (
                st.st_size, st.st_mtime_ns)
    return out


def store_bytes(path: str, prefix: str = "") -> int:
    sub = os.path.join(path, prefix) if prefix else path
    return sum(s for s, _ in _files(sub).values())


def table_mb(store: str) -> dict:
    seg = os.path.join(store, "segments")
    part = {"block": 0, "doc": 0}
    for rel, (size, _) in _files(seg).items():
        for p in part:
            if f"part={p}" in rel.split(os.sep):
                part[p] += size
    return {
        "blocks": part["block"] / 1e6,
        "doc_stats": part["doc"] / 1e6,
        "segments": store_bytes(seg) / 1e6,
        "term_stats": store_bytes(store, "term_stats") / 1e6,
        "dead": store_bytes(store, "dead") / 1e6,
    }


def segment_batches(store: str) -> int:
    seg = os.path.join(store, "segments")
    return sum(1 for d in os.listdir(seg) if d.startswith("batch="))


def content_bytes(texts) -> int:
    return sum(len(t.encode()) for t in texts)


def materialize(run: Run, pdf: pd.DataFrame, name: str,
                schema: str = CORPUS_SCHEMA):
    """Write the corpus as ``nproc`` parquet files and read it back, so a
    build reads an input table rather than a driver-side frame."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = run.path(name)
    os.makedirs(path)
    cols = [c.split()[0] for c in schema.split(", ")]
    table = pa.Table.from_pandas(pdf[cols], preserve_index=False)
    n = table.num_rows
    for i in range(run.nproc):
        lo, hi = i * n // run.nproc, (i + 1) * n // run.nproc
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return run.spark.read.schema(schema).parquet(path)


class _Written:
    """Bytes a write span leaves in the store (new or rewritten files);
    measured in traced runs only, outside the span."""

    def __init__(self, run: Run, store: str) -> None:
        self.run, self.store = run, store
        self.before = _files(store) if run.traced and os.path.isdir(store) \
            else {}

    def done(self, counts: dict) -> None:
        if not self.run.traced:
            return
        after = _files(self.store)
        counts["bytes_written"] = sum(
            s for rel, (s, m) in after.items()
            if self.before.get(rel) != (s, m))


def build_store(run: Run, corpus_df, store: str, input_bytes: int,
                cfg: IndexerConfig = PLAIN_CFG) -> float:
    w = _Written(run, store)
    t0 = time.perf_counter()
    with run.tracer.span(BUILD, input_bytes=input_bytes) as c:
        build.build_index(corpus_df, cfg, store, positions=True,
                          resume=False, num_buckets=2 * run.nproc)
    dt = time.perf_counter() - t0
    w.done(c)
    return dt


def compact(run: Run, store: str) -> float:
    """compact_store; returns its seconds (0 if it raised)."""
    w = _Written(run, store)
    t0 = time.perf_counter()
    try:
        with run.tracer.span(COMPACT) as c:
            cdc.compact_store(run.spark, store)
    except Exception as err:  # noqa: BLE001 - a failed op is counted
        run.fail("compact_store", err)
        return 0.0
    dt = time.perf_counter() - t0
    run.check(True, "compact_store")
    run.sample("compact_s", dt)
    w.done(c)
    return dt


# ------------------------------------------------------------ search calls

_API = {
    "or_wand": (SEARCH, dict(mode="or", algo="wand")),
    "or_exhaustive": (SEARCH, dict(mode="or", algo="exhaustive")),
    "and": (SEARCH, dict(mode="and", algo="exhaustive")),
    "phrase": (PHRASE, {}),
    "bool": (BOOL, {}),
}


def search_call(run: Run, store: str, call: inputs.Call, k: int = K):
    """One timed search-API call (store handle load + query + collect).
    Returns (seconds, rows) or raises."""
    span, kw = _API[call.kind]
    if call.kind == "bool":
        qpdf = pd.DataFrame([(i, *q) for i, q in enumerate(call.queries)],
                            columns=["qid", "must", "should", "must_not"])
    else:
        qpdf = pd.DataFrame({"qid": range(len(call.queries)),
                             "query": list(call.queries)})
    batches = segment_batches(store)
    t0 = time.perf_counter()
    with run.tracer.span(LOAD):
        st = search.load_store(store)
    with run.tracer.span(span, queries=len(call.queries),
                         segment_batches=batches) as c:
        if span == SEARCH:
            rows = search.search(run.spark, st, qpdf, k=k, **kw).collect()
        elif span == PHRASE:
            rows = search.search_phrase(run.spark, st, qpdf, k=k).collect()
        else:
            rows = search.search_bool(run.spark, st, qpdf, k=k).collect()
    dt = time.perf_counter() - t0
    c["hits"] = len(rows)
    return dt, rows


def _by_qid(rows) -> dict[int, list]:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        out.setdefault(int(r["qid"]), []).append(r)
    return out


_FORKED: PyOracle | None = None  # the oracle forked workers answer from


def _topk(o: PyOracle, kind: str, q, k: int) -> list:
    if kind in ("or_wand", "or_exhaustive"):
        return o.topk(q, k=k)
    if kind == "and":
        return o.topk(q, k=k, mode="and")
    if kind == "phrase":
        return o.phrase_topk(q, k=k)
    return o.bool_topk(*q, k=k)


def _forked_topk(key: tuple) -> list:
    return _topk(_FORKED, *key)


class Oracle:
    """Memoized ``PyOracle`` answers; their time adds to the run's
    ``oracle_s`` total, which no timing includes."""

    def __init__(self, run: Run, doc_ids: list[str], texts: list[str]):
        t0 = time.perf_counter()
        self.run = run
        self.py = PyOracle(doc_ids, texts)
        self.cache: dict = {}
        run.add("oracle_s", time.perf_counter() - t0)

    def answer(self, kind: str, q, k: int = K) -> list:
        key = (kind, q, k)
        if key not in self.cache:
            t0 = time.perf_counter()
            self.cache[key] = _topk(self.py, *key)
            self.run.add("oracle_s", time.perf_counter() - t0)
        return self.cache[key]

    def prefill(self, calls: list[inputs.Call], k: int = K) -> None:
        """Answer every query of ``calls`` up front, in ``nproc`` forked
        processes that end before this returns, so that no engine call
        shares the CPU with them."""
        global _FORKED
        keys = sorted({(c.kind, q, k) for c in calls for q in c.queries}
                      - set(self.cache), key=repr)
        t0 = time.perf_counter()
        _FORKED = self.py
        pool = multiprocessing.get_context("fork").Pool(self.run.nproc)
        try:
            self.cache.update(zip(keys, pool.map(_forked_topk, keys,
                                                 chunksize=1)))
        finally:
            _FORKED = None
            pool.close()
            pool.join()
        self.run.add("oracle_s", time.perf_counter() - t0)

    def matches(self, call: inputs.Call, rows, k: int = K) -> bool:
        """Same doc ids in the same ranks, scores within SCORE_TOL."""
        got = _by_qid(rows)
        for qid, q in enumerate(call.queries):
            want = self.answer(call.kind, q, k)
            mine = got.get(qid, [])
            if [r["doc_id"] for r in mine] != [d for d, _ in want]:
                return False
            if [r["rank"] for r in mine] != list(range(1, len(mine) + 1)):
                return False
            if any(abs(r["score"] - s) > SCORE_TOL
                   for r, (_, s) in zip(mine, want)):
                return False
        return True


def checked_call(run: Run, store: str, call: inputs.Call, oracle: Oracle,
                 timed: bool) -> float:
    """Run and check one call; returns its engine seconds (0 if it
    raised)."""
    try:
        dt, rows = search_call(run, store, call)
    except Exception as err:  # noqa: BLE001 - a failed op is counted
        run.fail(f"{call.kind} {call.queries}", err)
        return 0.0
    run.check(oracle.matches(call, rows), f"{call.kind} {call.queries}")
    if timed:
        run.sample("search_call_ms", dt * 1e3)
        run.add("queries", len(call.queries))
        run.add("search_s", dt)
    return dt


def oracle_calls(seed: int, oracle: Oracle, n: int) -> list[inputs.Call]:
    """The warm-up calls of a selective sequence (a phrase, then one call
    of each other kind) and its first block, cut to ``n``, for post-run
    checks."""
    pools = inputs.make_pools(oracle.py.toks, inputs.rng(seed, "check"))
    warm, blocks = inputs.search_calls(seed, pools, hot=False, n_blocks=1)
    return [*warm, *blocks[0]][:n]


# ---------------------------------------------------------------- workloads

class Setup:
    """Times set-up phases; the oracle's time never counts."""

    def __init__(self, run: Run) -> None:
        self.run = run

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.run.setup_s += time.perf_counter() - self.t0


def bulk_build(run: Run) -> None:
    """Write-only ingest: build_index over a pre-materialised corpus."""
    pdf = inputs.corpus(run.seed, BUILD_DOCS)
    warm = inputs.corpus(run.seed, BUILD_DOCS // 8, start=BUILD_DOCS)
    with Setup(run):
        corpus_df = materialize(run, pdf, "corpus")
        warm_df = materialize(run, warm, "warm-corpus")
        build_store(run, warm_df, run.path("warm-store"),
                    content_bytes(warm["content"]))
    nbytes = content_bytes(pdf["content"])
    spent, i, store = 0.0, 0, ""
    while spent < run.seconds:
        if store:
            shutil.rmtree(store)
        store = run.path(f"store-{i}")
        i += 1
        try:
            dt = build_store(run, corpus_df, store, nbytes)
        except Exception as err:  # noqa: BLE001 - a failed op is counted
            run.fail("build_index", err)
            store = ""
            spent += 1.0
            continue
        spent += dt
        run.check(True, "build_index")
        run.sample("build_s", dt)
        run.add("docs", BUILD_DOCS)
        run.add("build_s", dt)
    if not store:
        return
    # correctness after the timed region: the last store answers like the
    # oracle over the same corpus
    oracle = Oracle(run, pdf["doc_id"].tolist(), pdf["content"].tolist())
    for call in oracle_calls(run.seed, oracle, 6):
        checked_call(run, store, call, oracle, timed=True)
    run.totals["index_bytes"] = store_bytes(store)
    run.totals["input_bytes"] = nbytes
    run.store = store
    run.kernel_texts = pdf["content"].iloc[:1000]
    run.kernel_records = _sample_records(pdf.iloc[:200])


def _sample_records(pdf: pd.DataFrame) -> list[str]:
    return [
        dynamo_json.format_stream_record(
            "INSERT", {"repo": r["repo"], "path": r["path"],
                       "commit": r["commit"]},
            {"repo": r["repo"], "path": r["path"], "commit": r["commit"],
             "lang": r["lang"], "content": r["content"], "version": 1})
        for r in pdf.to_dict("records")
    ]


def _base_store(run: Run, base: pd.DataFrame, store: str) -> None:
    """Materialise and index the version-0 base corpus of a stream."""
    corpus_df = materialize(run, base, "corpus",
                            CORPUS_SCHEMA + ", version bigint")
    build_store(run, corpus_df, store, content_bytes(base["content"]),
                cfg=CDC_CFG)


def _search_workload(run: Run, hot: bool) -> None:
    """A positional store over the corpus, then whole blocks of search
    calls until the run length is spent, each call checked against the
    oracle over the same corpus."""
    pdf = inputs.corpus(run.seed, SEARCH_DOCS)
    oracle = Oracle(run, pdf["doc_id"].tolist(), pdf["content"].tolist())
    pools = inputs.make_pools(oracle.py.toks, inputs.rng(run.seed, "pools"))
    warm, blocks = inputs.search_calls(run.seed, pools, hot, n_blocks=500)
    oracle.prefill([*warm, *(c for b in blocks for c in b)])
    store = run.path("store")
    nbytes = content_bytes(pdf["content"])
    with Setup(run):
        build_store(run, materialize(run, pdf, "corpus"), store, nbytes)
        for call in warm:
            checked_call(run, store, call, oracle, timed=False)
    # whole blocks, at least two, so that a slow spell of the machine
    # within one block cannot leave a run with a single sample per kind
    spent = 0.0
    for i, block in enumerate(blocks):
        for call in block:
            spent += checked_call(run, store, call, oracle, timed=True) or 1.0
        if spent >= run.seconds and i >= 1:
            break
    run.totals["index_bytes"] = store_bytes(store)
    run.totals["input_bytes"] = nbytes
    run.store = store
    run.kernel_texts = pdf["content"].iloc[:1000]
    run.kernel_records = _sample_records(pdf.iloc[:200])


def search_selective(run: Run) -> None:
    """One query per call over low-df terms: per-call fixed cost."""
    _search_workload(run, hot=False)


def search_hot(run: Run) -> None:
    """12-32 queries per call over the hottest terms: decode/scoring."""
    _search_workload(run, hot=True)


def _apply_batch(run: Run, store: str, batch: inputs.Batch) -> float:
    """Raw stream JSON -> decode -> apply_changes; returns seconds."""
    raw = pd.DataFrame({"record_json": batch.records})
    nbytes = inputs.record_bytes(batch.records)
    w = _Written(run, store)
    t0 = time.perf_counter()
    with run.tracer.span(DECODE, input_bytes=nbytes):
        events = dynamo_json.decode_stream_events(
            run.spark.createDataFrame(raw), apply_cdc.EVENT_SCHEMA
        ).persist()
        events.count()
    with run.tracer.span(APPLY, input_bytes=nbytes) as c:
        res = cdc.apply_changes(events, CDC_CFG, store, compact=False)
    dt = time.perf_counter() - t0
    events.unpersist()
    w.done(c)
    run.check(
        (res["upserts"], res["deletes"], res["quarantined"])
        == (batch.upserts, batch.deletes, 0),
        f"batch {batch.index} counts {res} != "
        f"{(batch.upserts, batch.deletes, 0)}",
    )
    return dt


def _read_after_write(run: Run, store: str, model: inputs.StreamModel,
                      batch: inputs.Batch, timed: bool) -> float:
    """Probes, each returning exactly the live documents that carry a
    token: the batch's marker as a WAND and as an exhaustive OR query, its
    ``zqmark <marker>`` phrase, a bool query for an earlier batch's marker
    that excludes the losing duplicate versions, and each of the batch's
    needles as a selective top-10 OR query. Only the needle probes are
    latency samples: calls of one kind at the per-call floor, whose median
    does not jump between kinds from run to run. The set-up batch asks one
    needle."""
    r = inputs.rng(run.seed, f"raw-{batch.index}")
    earlier = model.marker(int(r.integers(0, batch.index + 1)))
    needles = model.needles(batch.index)
    probes = [
        (inputs.Call("or_wand", (batch.marker,)), batch.marker),
        (inputs.Call("or_exhaustive", (batch.marker,)), batch.marker),
        (inputs.Call("phrase", (f"{inputs.MARK} {batch.marker}",)),
         batch.marker),
        (inputs.Call("bool", ((earlier, "", inputs.STALE),)), earlier),
        *((inputs.Call("or_wand", (n,)), n)
          for n in (needles if timed else needles[:1])),
    ]
    spent = 0.0
    for call, token in probes:
        want = model.live_with(token)
        k = K if token in needles else len(want) + K
        try:
            dt, rows = search_call(run, store, call, k=k)
        except Exception as err:  # noqa: BLE001 - a failed op is counted
            run.fail(f"read-after-write {call}", err)
            continue
        spent += dt
        got = {r["doc_id"] for r in rows}
        run.check(got == want and len(rows) == len(want),
                  f"read-after-write {call}: {len(got ^ want)} docs differ")
        if timed and token in needles:
            run.sample("search_call_ms", dt * 1e3)
    return spent


def stream_ingest(run: Run) -> None:
    """DynamoDB stream batches applied to a live store, with read-after-
    write queries after every batch and compaction every few batches."""
    base = inputs.corpus(run.seed, STREAM_BASE_DOCS)
    base["version"] = 0
    model = inputs.StreamModel.from_base(run.seed, base)
    store = run.path("store")
    warm = model.next_batch(STREAM_BATCH_EVENTS)
    with Setup(run):
        _base_store(run, base, store)
        _apply_batch(run, store, warm)
        _read_after_write(run, store, model, warm, timed=False)
    run.kernel_records = list(warm.records)

    spent, since_compact = 0.0, 1
    while spent < run.seconds:
        batch = model.next_batch(STREAM_BATCH_EVENTS)
        since_compact += 1
        try:
            dt = _apply_batch(run, store, batch)
        except Exception as err:  # noqa: BLE001 - a failed op is counted
            run.fail(f"batch {batch.index}", err)
            spent += 1.0
            continue
        spent += dt
        run.sample("cdc_batch_s", dt)
        run.add("events", len(batch.records))
        run.add("cdc_s", dt)
        spent += _read_after_write(run, store, model, batch, timed=True)
        if since_compact == COMPACT_EVERY:
            spent += compact(run, store) or 1.0
            since_compact = 0
    if since_compact:
        compact(run, store)

    live = model.live_frame()
    oracle = Oracle(run, live["doc_id"].tolist(), live["content"].tolist())
    last = model.marker(model.batches - 1)
    n_last = len(model.live_with(last))
    calls = [inputs.Call("or_wand", (last,))] + oracle_calls(
        run.seed, oracle, 1)
    for call in calls:
        try:
            k = n_last + K if call.queries == (last,) else K
            _dt, rows = search_call(run, store, call, k=k)
            run.check(oracle.matches(call, rows, k=k),
                      f"after compaction {call}")
        except Exception as err:  # noqa: BLE001 - a failed op is counted
            run.fail(f"after compaction {call}", err)
    run.totals["index_bytes"] = store_bytes(store)
    run.totals["input_bytes"] = content_bytes(live["content"])
    run.store = store
    run.kernel_texts = live["content"].iloc[:1000]


WORKLOADS = {
    "bulk_build": bulk_build,
    "stream_ingest": stream_ingest,
    "search_selective": search_selective,
    "search_hot": search_hot,
}


def kernel_metrics(run: Run) -> dict:
    meta = search.load_store(run.store).meta
    return kernels.measure(
        run.kernel_texts.reset_index(drop=True), run.store,
        run.kernel_records, float(meta["n_docs"]), float(meta["avgdl"]),
        inputs.rng(run.seed, "kernels"),
    )
