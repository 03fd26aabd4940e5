"""Phrase (positional-index) and prefix (term-expansion) queries vs the
pure-Python oracle — the ES match_phrase / prefix capabilities (SURVEY.md
§2.2; reference ships doc bodies to ES at /root/reference/lib/handler.js:100
and relies on these query types being available on the indexed documents).
"""

import numpy as np
import pandas as pd
import pytest

from dynamo2es_lambda_spark import IndexerConfig
from dynamo2es_lambda_spark.errors import EngineError
from dynamo2es_lambda_spark.functions import analysis, codec
from dynamo2es_lambda_spark.plans import build, search
from dynamo2es_lambda_spark.sources import store_io

from .oracle import PyOracle

CFG = IndexerConfig(index="code")


@pytest.fixture(scope="module")
def pos_store(spark, corpus_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("posidx"))
    res = build.build_index(
        corpus_df, CFG, path, segment_docs=64, num_buckets=8, positions=True
    )
    assert res.n_docs == 200
    st = search.load_store(path)
    assert st.meta["positions"] is True
    return st


@pytest.fixture(scope="module")
def oracle(corpus_pdf):
    ids = (
        corpus_pdf["repo"] + "." + corpus_pdf["path"] + "." + corpus_pdf["commit"]
    ).tolist()
    return PyOracle(ids, corpus_pdf["content"].tolist())


def _phrases(oracle):
    """Pick real consecutive bigrams/trigrams from the corpus + an absent
    one + a camelCase form that must tokenize into the same phrase."""
    toks = oracle.toks[3]
    big = " ".join(toks[4:6])
    tri = " ".join(toks[10:13])
    camel = toks[7] + toks[8].capitalize()  # tokenizer splits it back
    return [
        (0, big),
        (1, tri),
        (2, camel),
        (3, "zzz absent phrase"),
        (4, toks[0]),  # single-token phrase == term query w/ AND scoring
    ]


def _assert_rank_identical(got, want, qid):
    assert len(got) == len(want), f"qid={qid}: {len(got)} vs {len(want)}"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        assert gd == wd, f"qid={qid} rank={i + 1}: doc {gd} != {wd}"
        assert gs == pytest.approx(ws, abs=1e-9), f"qid={qid} rank={i + 1}"


def test_phrase_rank_identity(spark, pos_store, oracle):
    qs = _phrases(oracle)
    qpdf = pd.DataFrame(qs, columns=["qid", "query"])
    res = search.search_phrase(spark, pos_store, qpdf, k=10).toPandas()
    n_nonempty = 0
    for qid, q in qs:
        got = res[res.qid == qid].sort_values("rank")
        want = oracle.phrase_topk(q, k=10)
        n_nonempty += bool(want)
        _assert_rank_identical(list(zip(got["doc_id"], got["score"])), want, qid)
    assert n_nonempty >= 3, "fixture phrases must actually match docs"


def test_phrase_is_stricter_than_and(spark, pos_store, oracle):
    """Every phrase hit must also be an AND-mode hit of the same terms."""
    qs = [q for q in _phrases(oracle) if len(q[1].split()) > 1][:2]
    qpdf = pd.DataFrame(qs, columns=["qid", "query"])
    ph = search.search_phrase(spark, pos_store, qpdf, k=50).toPandas()
    am = search.search(
        spark, pos_store, qpdf, k=200, mode="and", algo="exhaustive"
    ).toPandas()
    for qid, _ in qs:
        p_docs = set(ph[ph.qid == qid]["doc_id"])
        a_docs = set(am[am.qid == qid]["doc_id"])
        assert p_docs <= a_docs


def test_phrase_requires_positions(spark, corpus_df, tmp_path):
    path = str(tmp_path / "nopos")
    build.build_index(corpus_df, CFG, path, segment_docs=64, num_buckets=8)
    st = search.load_store(path)
    with pytest.raises(EngineError, match="positions"):
        search.search_phrase(spark, st, pd.DataFrame([(0, "a b")],
                                                     columns=["qid", "query"]))


def test_positions_roundtrip_store(spark, pos_store, oracle):
    """Decode every stored posting's positions; compare against retokenized
    truth for a sample of terms."""
    blocks = store_io.read_blocks(spark, pos_store.path).toPandas()
    stats = pos_store.doc_stats(spark).select("doc_int", "doc_id").toPandas()
    id_by_int = dict(zip(stats["doc_int"], stats["doc_id"]))
    toks_by_id = {
        oracle.doc_ids[i]: oracle.toks[i] for i in range(oracle.n_docs)
    }
    sample = blocks.sample(n=min(60, len(blocks)), random_state=7)
    dec = codec.decode_batch(sample, positions=True)
    terms = np.repeat(sample["term"].to_numpy(object), dec["counts"])
    flat, starts, tfs = dec["positions"], dec["pos_starts"], dec["tf"]
    checked = 0
    for i, (term, d) in enumerate(zip(terms, dec["doc_int"])):
        dt = toks_by_id[id_by_int[d]]
        want = [j for j, t in enumerate(dt) if t == term]
        got = flat[starts[i]: starts[i] + tfs[i]].tolist()
        assert got == want, (term, got, want)
        checked += 1
    assert checked > 100


def test_prefix_rank_identity(spark, pos_store, oracle):
    prefixes = [(0, "mer"), (1, "get"), (2, "zzznope"), (3, "s")]
    ppdf = pd.DataFrame(prefixes, columns=["qid", "prefix"])
    res = search.search_prefix(spark, pos_store, ppdf, k=10).toPandas()
    n_nonempty = 0
    for qid, p in prefixes:
        got = res[res.qid == qid].sort_values("rank")
        want = oracle.prefix_topk(p, k=10)
        n_nonempty += bool(want)
        _assert_rank_identical(list(zip(got["doc_id"], got["score"])), want, qid)
    assert n_nonempty >= 2


def test_prefix_max_expansions(spark, pos_store, oracle):
    ppdf = pd.DataFrame([(0, "s")], columns=["qid", "prefix"])
    res = search.search_prefix(
        spark, pos_store, ppdf, k=10, max_expansions=3
    ).toPandas().sort_values("rank")
    want = oracle.prefix_topk("s", k=10, max_expansions=3)
    _assert_rank_identical(list(zip(res["doc_id"], res["score"])), want, 0)


def test_positions_payload_skipped_when_disabled(spark, corpus_df, tmp_path):
    """positions=False stores a null pos_bytes column (uniform layout, ~zero
    bytes) — and regular queries never read it."""
    path = str(tmp_path / "nopos2")
    build.build_index(corpus_df, CFG, path, segment_docs=64, num_buckets=8)
    blocks = store_io.read_blocks(spark, path)
    from pyspark.sql import functions as F

    n_payload = blocks.filter(F.col("pos_bytes").isNotNull()).count()
    assert n_payload == 0


def test_positions_kernel_property():
    """Property check: kernel positions == naive recomputation on random-ish
    token streams (hypothesis-style, deterministic seeds)."""
    rng = np.random.default_rng(11)
    vocab = ["a", "b", "foo", "bar", "merge_sort", "x1"]
    texts, ids = [], []
    for i in range(50):
        n = int(rng.integers(0, 30))
        texts.append(" ".join(rng.choice(vocab, n)))
        ids.append(1000 + i)
    s = pd.Series(texts)
    toks = analysis.tokenize_series(s)
    dls = toks.map(len).to_numpy(np.int64)
    out = analysis.term_freqs_positions_from_tokens(
        np.array(ids, dtype=np.int64), toks, dls
    )
    by_id = dict(zip(ids, toks))
    for r in out.itertuples(index=False):
        want = [j for j, t in enumerate(by_id[r.doc_int]) if t == r.term]
        deltas = codec.varbyte_decode(r.pos_bytes).astype(np.int64)
        assert np.cumsum(deltas).tolist() == want
        assert r.tf == len(want)


def test_fuzzy_rank_identity(spark, pos_store, oracle):
    probes = [(0, "mergee"), (1, "spli"), (2, "zzzzzzz"), (3, "get")]
    fpdf = pd.DataFrame(probes, columns=["qid", "term"])
    res = search.search_fuzzy(
        spark, pos_store, fpdf, k=10, max_edits=1, max_expansions=50
    ).toPandas()
    n_nonempty = 0
    for qid, p in probes:
        got = res[res.qid == qid].sort_values("rank")
        want = oracle.fuzzy_topk(p, k=10, max_edits=1, max_expansions=50)
        n_nonempty += bool(want)
        _assert_rank_identical(list(zip(got["doc_id"], got["score"])), want, qid)
    assert n_nonempty >= 2


def test_fuzzy_includes_exact_match(spark, pos_store, oracle):
    """distance-0 (the probe itself, if indexed) is part of the expansion."""
    term = next(iter(oracle.postings))
    fpdf = pd.DataFrame([(0, term)], columns=["qid", "term"])
    res = search.search_fuzzy(spark, pos_store, fpdf, k=200).toPandas()
    exact = {d for d, _ in oracle.postings[term]}
    got = set(res["doc_id"])
    # every doc containing the exact term must be a candidate (k permitting)
    assert {oracle.doc_ids[d] for d in exact} <= got or len(res) == 200


def test_facets_match_bruteforce(spark, pos_store, oracle, corpus_pdf):
    """Terms-agg facet counts == per-lang counts of OR-matching docs."""
    qs = [(0, "merge window"), (1, "zzznope")]
    qpdf = pd.DataFrame(qs, columns=["qid", "query"])
    res = search.search_facets(
        spark, pos_store, qpdf, facet_col="lang"
    ).toPandas()
    ids = (
        corpus_pdf["repo"] + "." + corpus_pdf["path"] + "." + corpus_pdf["commit"]
    ).tolist()
    lang_by_id = dict(zip(ids, corpus_pdf["lang"]))
    for qid, q in qs:
        toks = set(analysis.tokenize_series(pd.Series([q]))[0])
        want: dict[str, int] = {}
        for i, dtoks in enumerate(oracle.toks):
            if toks & set(dtoks):
                lg = lang_by_id[oracle.doc_ids[i]]
                want[lg] = want.get(lg, 0) + 1
        got = dict(zip(res[res.qid == qid]["facet"],
                       res[res.qid == qid]["n_docs"]))
        assert got == want, (qid, got, want)


def test_highlight_snippets(spark, pos_store, oracle, corpus_df, corpus_pdf):
    """Snippet = window around the first occurrence of any query term."""
    qs = [(0, "merge window")]
    qpdf = pd.DataFrame(qs, columns=["qid", "query"])
    res = search.search(spark, pos_store, qpdf, k=5, algo="wand")
    out = search.highlight(
        res, corpus_df.selectExpr(
            "concat_ws('.', repo, path, commit) as doc_id", "content"
        ),
        qpdf, id_col="doc_id", text_col="content", window=2,
    ).toPandas()
    assert len(out) == 5
    qterms = {"merge", "window"}
    toks_by_id = dict(zip(oracle.doc_ids, oracle.toks))
    for r in out.itertuples(index=False):
        dt = toks_by_id[r.doc_id]
        p = next(i for i, t in enumerate(dt) if t in qterms)
        want = " ".join(dt[max(0, p - 2): p + 3])
        assert r.matched_term == dt[p]
        assert r.snippet == want


def test_prefix_overlapping_expansions_not_double_counted(
    spark, pos_store, oracle
):
    """Two prefixes of one qid whose expansions overlap must score each
    expanded term ONCE (regression: duplicated (qid, term) rows doubled
    the shared terms' BM25 contributions)."""
    from dynamo2es_lambda_spark.functions import bm25

    ppdf = pd.DataFrame([(0, "mer"), (0, "merge")], columns=["qid", "prefix"])
    res = search.search_prefix(spark, pos_store, ppdf, k=10).toPandas()
    terms = sorted(
        t for t in oracle.postings
        if t.startswith("mer") or t.startswith("merge")
    )
    scores = {}
    for t in set(terms):
        w = float(bm25.idf(oracle.n_docs, oracle.df[t])) * (bm25.K1 + 1.0)
        for d, tf in oracle.postings[t]:
            s = w * float(bm25.tf_norm(tf, oracle.dl[d], oracle.avgdl))
            scores[d] = scores.get(d, 0.0) + s
    want = sorted(
        scores.items(), key=lambda kv: (-kv[1], oracle.doc_ids[kv[0]])
    )[:10]
    got = list(zip(res.sort_values("rank")["doc_id"], res["score"]))
    _assert_rank_identical(
        got, [(oracle.doc_ids[d], s) for d, s in want], 0
    )


def test_bool_query_rank_identity(spark, pos_store, oracle):
    """ES bool (must/should/must_not) vs the pure-Python oracle."""
    toks3 = oracle.toks[3]
    qs = [
        # must AND + should boost + must_not filter
        (0, " ".join(toks3[:2]), toks3[5], toks3[9]),
        # should-only candidates, with an exclusion
        (1, "", " ".join(toks3[2:4]), toks3[0]),
        # must-only
        (2, " ".join(toks3[6:8]), "", ""),
        # unindexed must term → matches nothing even with a should clause
        (3, "zzzabsent", toks3[1], ""),
    ]
    qpdf = pd.DataFrame(qs, columns=["qid", "must", "should", "must_not"])
    res = search.search_bool(spark, pos_store, qpdf, k=10).toPandas()
    n_nonempty = 0
    for qid, m, s, n in qs:
        got = res[res.qid == qid].sort_values("rank")
        want = oracle.bool_topk(m, s, n, k=10)
        n_nonempty += bool(want)
        _assert_rank_identical(list(zip(got["doc_id"], got["score"])), want, qid)
    assert n_nonempty >= 3
    assert res[res.qid == 3].empty


def test_bool_must_not_actually_excludes(spark, pos_store, oracle):
    hot = max(oracle.df, key=oracle.df.get)  # most common term
    qpdf = pd.DataFrame(
        [(0, "", "merge window", hot)],
        columns=["qid", "must", "should", "must_not"],
    )
    res = search.search_bool(spark, pos_store, qpdf, k=200).toPandas()
    hot_docs = {oracle.doc_ids[d] for d, _ in oracle.postings[hot]}
    assert not (set(res["doc_id"]) & hot_docs)


def test_wildcard_rank_identity(spark, pos_store, oracle):
    import fnmatch

    from dynamo2es_lambda_spark.functions import bm25

    pats = [(0, "mer*"), (1, "*andler"), (2, "s?an"), (3, "zzz*")]
    wpdf = pd.DataFrame(pats, columns=["qid", "pattern"])
    res = search.search_wildcard(spark, pos_store, wpdf, k=10).toPandas()
    n_nonempty = 0
    for qid, p in pats:
        terms = sorted(t for t in oracle.postings
                       if fnmatch.fnmatchcase(t, p))[:50]
        scores = {}
        for t in terms:
            w = float(bm25.idf(oracle.n_docs, oracle.df[t])) * (bm25.K1 + 1.0)
            for d, tf in oracle.postings[t]:
                s = w * float(bm25.tf_norm(tf, oracle.dl[d], oracle.avgdl))
                scores[d] = scores.get(d, 0.0) + s
        want = sorted(scores.items(),
                      key=lambda kv: (-kv[1], oracle.doc_ids[kv[0]]))[:10]
        got = res[res.qid == qid].sort_values("rank")
        n_nonempty += bool(want)
        _assert_rank_identical(
            list(zip(got["doc_id"], got["score"])),
            [(oracle.doc_ids[d], s) for d, s in want], qid,
        )
    assert n_nonempty >= 2


def test_wildcard_rejects_bad_pattern(spark, pos_store):
    with pytest.raises(EngineError, match="invalid chars"):
        search.search_wildcard(
            spark, pos_store,
            pd.DataFrame([(0, "a%b")], columns=["qid", "pattern"]),
        )
