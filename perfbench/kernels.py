"""Driver-side timings of the engine's pure kernels on the workload's data.

Each kernel runs ``REPEATS`` times over the same sample and reports the
median cost per unit of work (token, posting or record).
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pandas as pd

from dynamo2es_lambda_spark.functions import analysis, bm25, codec
from dynamo2es_lambda_spark.sources import dynamo_json

from . import inputs, stats

REPEATS = 5
MAX_BLOCKS = 400


def _median_s(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return stats.median(times)


def _store_blocks(store_path: str, r: np.random.Generator) -> pd.DataFrame:
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(
        store_path, "segments", "batch=*", "part=block", "**", "*.parquet"),
        recursive=True))
    cols = ["doc_first", "doc_bytes", "tf_bytes", "dl_bytes", "n_docs"]
    pdf = pd.concat([pq.read_table(f, columns=cols).to_pandas()
                     for f in files], ignore_index=True)
    if len(pdf) > MAX_BLOCKS:
        pdf = pdf.iloc[np.sort(r.choice(len(pdf), MAX_BLOCKS, replace=False))]
    return pdf.reset_index(drop=True)


def measure(texts: pd.Series, store_path: str, records: list[str],
            n_docs: float, avgdl: float, r: np.random.Generator) -> dict:
    """Kernel metrics over a sample of the workload's documents, the
    store's real posting blocks and raw stream records."""
    out = {}
    doc_ids = np.arange(len(texts), dtype=np.int64)
    rows = analysis.term_rows_arrow_fast(doc_ids, texts)
    tokens = int(rows["tf"].sum())
    out["functions.analysis.term_rows_arrow_fast.ns_per_token"] = (
        _median_s(lambda: analysis.term_rows_arrow_fast(doc_ids, texts))
        * 1e9 / tokens
    )

    lists = [
        (g["doc_int"].to_numpy(), g["tf"].to_numpy(), g["dl"].to_numpy())
        for _, g in rows.sort_values(["term", "doc_int"]).groupby("term")
    ]
    out["functions.codec.encode_blocks.ns_per_posting"] = (
        _median_s(lambda: [codec.encode_blocks(*x) for x in lists])
        * 1e9 / len(rows)
    )

    blocks = _store_blocks(store_path, r)
    args = list(zip(blocks["doc_first"], blocks["doc_bytes"],
                    blocks["tf_bytes"], blocks["dl_bytes"]))
    postings = int(blocks["n_docs"].sum())
    out["functions.codec.decode_block.ns_per_posting"] = (
        _median_s(lambda: [codec.decode_block(*a) for a in args])
        * 1e9 / postings
    )
    decoded = [codec.decode_block(*a) for a in args]
    tf = np.concatenate([d[1] for d in decoded])
    dl = np.concatenate([d[2] for d in decoded])
    df = np.repeat(blocks["n_docs"].to_numpy(dtype=np.float64),
                   blocks["n_docs"].to_numpy())
    out["functions.bm25.score.ns_per_posting"] = (
        _median_s(lambda: bm25.score(tf, dl, df, n_docs, avgdl))
        * 1e9 / postings
    )

    imgs = inputs.images(records)
    out["sources.dynamo_json.unmarshall_image.us_per_record"] = (
        _median_s(lambda: [dynamo_json.unmarshall_image(i) for i in imgs])
        * 1e6 / len(imgs)
    )
    return out
