"""Offline MinHash-LSH recall per band layout, no Spark.

For each seed, ``perfbench.gen.dedup_dupheavy`` plants its near-duplicate
clusters.  A planted pair at Jaccard >= ``dedup.JACCARD_THRESHOLD``
reaches ``minhash_lsh_dedup``'s exact verify only if its two docs share
a band key: the same ``textstats.minhash_signatures`` /
``minhash_band_keys`` the kernel runs, with ``bands * rows``
permutations.  Prints one JSON line per ``BANDSxROWS`` layout: planted
pairs, misses, and each missed pair as ``[seed, doc_a, doc_b]``.

Usage: python tools/band_recall.py [--seeds 1-60] [--layouts 32x4,42x3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
from typing import Dict, List, Tuple

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deepseek_ocr_2_spark.functions import textstats  # noqa: E402
from deepseek_ocr_2_spark.operators import dedup  # noqa: E402
from perfbench import gen  # noqa: E402

Pair = Tuple[int, int]


def missed_pairs(
    texts: Dict[int, str], pairs: List[Pair], bands: int, rows: int
) -> List[Pair]:
    """The ``pairs`` whose docs share no band key under ``bands x rows``."""
    ids = sorted({d for p in pairs for d in p})
    at = {d: i for i, d in enumerate(ids)}
    sig = textstats.minhash_signatures(
        [textstats.tokenize(texts[d]) for d in ids],
        num_perm=bands * rows,
        k=dedup.SHINGLE_K,
    )
    keys = textstats.minhash_band_keys(sig, bands)
    a = keys[[at[x] for x, _ in pairs]]
    b = keys[[at[y] for _, y in pairs]]
    return [p for p, hit in zip(pairs, (a == b).any(axis=1)) if not hit]


def planted(seed: int, work_dir: str) -> Tuple[Dict[int, str], List[Pair]]:
    """(doc_id -> text, sorted planted pairs) of one benchmark seed."""
    inp = gen.dedup_dupheavy(os.path.join(work_dir, f"docs{seed}.parquet"), seed)
    table = pq.read_table(inp.path, columns=["doc_id", "text"]).to_pydict()
    return dict(zip(table["doc_id"], table["text"])), sorted(inp.near_pairs)


def _seeds(spec: str) -> List[int]:
    out: List[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main(argv: List[str] | None = None) -> List[dict]:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-60", help="e.g. 1-60 or 7,35")
    ap.add_argument("--layouts", default="32x4,42x3", help="BANDSxROWS,...")
    args = ap.parse_args(argv)
    layouts = [tuple(map(int, s.split("x"))) for s in args.layouts.split(",")]
    seeds = _seeds(args.seeds)
    found = {lay: [] for lay in layouts}
    n_pairs = 0
    with tempfile.TemporaryDirectory() as work_dir:
        for seed in seeds:
            texts, pairs = planted(seed, work_dir)
            n_pairs += len(pairs)
            for lay in layouts:
                found[lay] += [[seed, *p] for p in missed_pairs(texts, pairs, *lay)]
    report = [
        {"bands": b, "rows": r, "seeds": args.seeds, "pairs": n_pairs,
         "misses": len(found[(b, r)]), "missed": found[(b, r)]}
        for b, r in layouts
    ]
    for line in report:
        print(json.dumps(line))
    return report


if __name__ == "__main__":
    main()
