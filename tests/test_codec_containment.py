"""Posting-format containment: only ``functions/codec.py`` knows the block
wire layout. Every other module decodes blocks through
``codec.decode_batch`` (or the per-block ``codec.decode_block`` reference) —
never by calling the varbyte/segmented-cumsum primitives itself or by
concatenating a ``*_bytes`` payload column for a hand-rolled decode."""

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "dynamo2es_lambda_spark")
CODEC = os.path.join(PKG, "functions", "codec.py")

FORBIDDEN = [
    re.compile(r"\bvarbyte_decode\b"),
    re.compile(r"\bsegmented_positions\b"),
    re.compile(r"""b(""|'')\.join\(\s*[^()]*_bytes"""),
]


def test_block_layout_stays_in_codec():
    offenders = []
    for root, _, files in os.walk(PKG):
        for fn in files:
            path = os.path.join(root, fn)
            if not fn.endswith(".py") or path == CODEC:
                continue
            src = open(path).read()
            for pat in FORBIDDEN:
                for m in pat.finditer(src):
                    line = src[: m.start()].count("\n") + 1
                    offenders.append(f"{path}:{line} matches {pat.pattern}")
    assert not offenders, "\n".join(offenders)
