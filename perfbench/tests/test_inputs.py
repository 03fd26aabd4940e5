"""Generator determinism: one seed, one byte-identical input set."""

import json
import pickle

import pandas as pd

from dynamo2es_lambda_spark.functions import analysis
from dynamo2es_lambda_spark.sources import dynamo_json

from perfbench import inputs


def _calls(seed, hot):
    pdf = inputs.corpus(seed, 300)
    toks = [list(t) for t in analysis.tokenize_series(pdf["content"])]
    pools = inputs.make_pools(toks, inputs.rng(seed, "pools"))
    return inputs.search_calls(seed, pools, hot, n_blocks=12)


def _stream(seed, batches=3):
    base = inputs.corpus(seed, 200)
    model = inputs.StreamModel.from_base(seed, base)
    return [model.next_batch(60) for _ in range(batches)], model


def _bytes(obj) -> bytes:
    return pickle.dumps(obj, protocol=4)


def test_corpus_is_a_function_of_the_seed():
    a, b = inputs.corpus(7, 100), inputs.corpus(7, 100)
    assert _bytes(a.to_dict("list")) == _bytes(b.to_dict("list"))
    c = inputs.corpus(8, 100)
    assert not set(a["doc_id"]) & set(c["doc_id"])
    assert list(a["content"]) != list(c["content"])


def test_search_calls_are_a_function_of_the_seed():
    for hot in (False, True):
        assert _bytes(_calls(5, hot)) == _bytes(_calls(5, hot))
        assert _bytes(_calls(5, hot)) != _bytes(_calls(6, hot))


def test_every_block_holds_the_whole_mix():
    for hot, block, warm_kind in (
            (True, inputs.HOT_BLOCK, inputs.HOT_WARM),
            (False, inputs.SELECTIVE_BLOCK, inputs.SELECTIVE_WARM)):
        warm, blocks = _calls(5, hot)
        want = sorted((k, n) for k, n, _ in block)
        for b in blocks:
            assert sorted((c.kind, len(c.queries)) for c in b) == want
        # set-up warms the left-out kind and every block kind, one query
        # each, so every search API runs
        assert [(c.kind, len(c.queries)) for c in warm] == [
            (warm_kind, 1), *((k, 1) for k, _, _ in block)]
        assert {c.kind for c in warm} >= {"or_wand", "and", "phrase", "bool"}


def test_no_call_repeats_a_query():
    hot_terms = set(inputs.HOT_TERMS)
    for hot in (False, True):
        warm, blocks = _calls(5, hot)
        for c in [*warm, *(c for b in blocks for c in b)]:
            assert len(set(c.queries)) == len(c.queries)
            if hot and c.kind != "bool":
                assert all(set(q.split()) <= hot_terms for q in c.queries)


def test_a_pool_smaller_than_its_call_is_refused():
    pools = inputs.Pools(["a", "b"], ["a b"])
    try:
        inputs.query_pool("or_wand", False, pools, inputs.rng(1, "x"), 9)
    except ValueError:
        return
    raise AssertionError("drew 9 distinct queries from 2 terms")


def test_stream_batches_are_a_function_of_the_seed():
    a, _ = _stream(3)
    b, _ = _stream(3)
    c, _ = _stream(4)
    assert [x.records for x in a] == [x.records for x in b]
    assert [x.records for x in a] != [x.records for x in c]


def test_stream_batch_shape_and_model():
    batches, model = _stream(3)
    for batch in batches:
        recs = [json.loads(r) for r in batch.records]
        kinds = pd.Series([r["eventName"] for r in recs]).value_counts()
        # bench.py's CDC mix: half MODIFY, a quarter each REMOVE and INSERT
        assert dict(kinds) == {"MODIFY": 30, "REMOVE": 15, "INSERT": 15}
        assert kinds["REMOVE"] == batch.deletes
        # duplicate keys: the higher version carries the marker
        by_key = {}
        for r in recs:
            if r["eventName"] != "MODIFY":
                continue
            img = dynamo_json.unmarshall_image(r["dynamodb"]["NewImage"])
            by_key.setdefault(img["path"] + img["commit"], []).append(img)
        dups = [v for v in by_key.values() if len(v) == 2]
        assert dups
        for v in dups:
            win = max(v, key=lambda i: i["version"])
            lose = min(v, key=lambda i: i["version"])
            assert batch.marker in win["content"].split()
            assert inputs.STALE in lose["content"].split()
        assert batch.upserts == len(by_key) + kinds["INSERT"]
    # the last batch's marker is on exactly its live upserts, each of its
    # needles on a few of them
    last = batches[-1]
    marked = model.live_with(last.marker)
    assert len(marked) == last.upserts
    needles = [model.live_with(n) for n in model.needles(last.index)]
    assert [len(n) for n in needles] == [inputs.NEEDLE_DOCS] * inputs.NEEDLES
    assert set.union(*needles) < marked
