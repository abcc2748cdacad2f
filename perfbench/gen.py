"""Seeded input generator: one parquet table per workload, no Spark.

Every value is drawn from ``random.Random(seed)``, so the same seed
writes the same files.  Payloads come from the program's public
renderers (``sources.corpus.render_html``, ``render_pdf_payload``,
``url_for``); the program only ever sees the written files.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass
from typing import Dict, List, Set, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from deepseek_ocr_2_spark.operators.decode import parse_pdf_payload
from deepseek_ocr_2_spark.operators.dedup import JACCARD_THRESHOLD
from deepseek_ocr_2_spark.sources import corpus as C

LANGS = ("en", "de", "fr", "es", "it", "nl")
WORD_RE = re.compile(r"[a-z0-9]+")

# crawl_commit: docs per iteration; text length in words per payload
# kind.  PDF docs stay under 3 paragraphs (~1,200 chars) so each
# renders as a one-page stub.
CRAWL_DOCS = 12_000
CRAWL_HTML_WORDS = (60, 420)
CRAWL_PDF_WORDS = (40, 150)

# dedup_dupheavy: unique filler plus clusters of 2-5 near-duplicates.
# The cluster mix is fixed (CLUSTERS_PER_SIZE of each size, members
# cycling through MUTATIONS), so every seed plants the same structure
# and only the words and substitution positions vary.
DEDUP_DOCS = 4_000
DEDUP_WORDS = (30, 80)
CLUSTER_SIZES = (2, 3, 4, 5)
CLUSTERS_PER_SIZE = 200
# substitutions per non-base member; 0 is a copy up to case/whitespace
MUTATIONS = (0, 1, 1, 2, 3)


def _vocab(rng: random.Random, n: int = 6000) -> List[str]:
    words: Set[str] = set()
    letters = "abcdefghijklmnopqrstuvwxyz"
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _text(rng: random.Random, vocab: List[str], lo: int, hi: int) -> str:
    return " ".join(rng.choices(vocab, k=rng.randint(lo, hi)))


def _distinct_ids(rng: random.Random, n: int) -> List[int]:
    """``n`` distinct doc ids, in seeded order."""
    ids: Set[int] = set()
    out: List[int] = []
    while len(out) < n:
        d = rng.randrange(1, 1 << 40)
        if d not in ids:
            ids.add(d)
            out.append(d)
    return out


@dataclass
class PagesInput:
    """A pages table plus what the generator planted in it."""

    path: str
    urls: List[str]
    payloads: Dict[str, bytes]
    # url -> pages the generator left without EOS (0 or 1)
    planted_failed_pages: Dict[str, int]
    # urls whose only page lacks EOS: the one planted ok=false case
    planted_not_ok: Set[str]


def _write_pages(path: str, rows: List[Tuple[int, str, str, bool]]) -> PagesInput:
    urls, htmls, langs = [], [], []
    inp = PagesInput(path, urls, {}, {}, set())
    for doc_id, text, lang, pdf in rows:
        url = C.url_for(doc_id)
        payload = C.render_pdf_payload(doc_id, text) if pdf else C.render_html(
            doc_id, text, lang
        )
        urls.append(url)
        htmls.append(payload)
        langs.append(lang)
        inp.payloads[url] = payload
        if pdf:
            npages = len(parse_pdf_payload(payload))
            eos_less = int(doc_id % C.EOS_FAIL_MOD == 0)
            inp.planted_failed_pages[url] = eos_less
            if eos_less and npages == 1:
                inp.planted_not_ok.add(url)
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "html": pa.array(htmls, pa.binary()),
            "lang": pa.array(langs, pa.string()),
        }
    )
    # several row groups per core: the scan is not the bottleneck here
    pq.write_table(table, path, row_group_size=max(1, len(urls) // 16))
    return inp


def crawl_commit(path: str, seed: int) -> PagesInput:
    """~3/4 HTML, ~1/4 one-page PDF stubs; ~30% of urls on the hot host
    (both shares are ``corpus.url_for`` / ``is_pdf_doc`` functions of the
    seeded doc id)."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    rows = []
    for d in _distinct_ids(rng, CRAWL_DOCS):
        pdf = C.is_pdf_doc(d)
        lo, hi = CRAWL_PDF_WORDS if pdf else CRAWL_HTML_WORDS
        rows.append((d, _text(rng, vocab, lo, hi), rng.choice(LANGS), pdf))
    return _write_pages(path, rows)


def shingle_set(text: str) -> Set[str]:
    t = WORD_RE.findall(text.lower())
    return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}


def jaccard6(a: Set[str], b: Set[str]) -> float:
    inter = len(a & b)
    return round(inter / (len(a) + len(b) - inter), 6)


@dataclass
class DocsInput:
    """A documents table plus its planted duplicate structure."""

    path: str
    n_docs: int
    # pairs (doc_a < doc_b) at or above JACCARD_THRESHOLD -> jaccard
    near_pairs: Dict[Tuple[int, int], float]
    # keep_doc_id -> group size, for every fingerprint group of size > 1
    exact_groups: Dict[int, int]


def _mutate(rng: random.Random, words: List[str], vocab: List[str], kind: int) -> str:
    """kind 0: exact copy up to case/whitespace; kind k>0: k substitutions."""
    if kind == 0:
        return "  ".join(w.upper() if i % 7 == 0 else w for i, w in enumerate(words))
    out = list(words)
    for pos in rng.sample(range(len(out)), kind):
        out[pos] = rng.choice(vocab)
    return " ".join(out)


def dedup_dupheavy(path: str, seed: int) -> DocsInput:
    """Planted clusters of 2-5 docs plus unique filler.  Every cluster
    member derives from its own base text only (never from another
    cluster), so cluster size is bounded by construction; the expected
    pair set is exact 3-gram Jaccard over each cluster's members."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    texts: List[str] = []
    clusters: List[List[int]] = []
    member = 0
    for k in CLUSTER_SIZES:
        for _ in range(CLUSTERS_PER_SIZE):
            base = _text(rng, vocab, *DEDUP_WORDS).split(" ")
            members = [" ".join(base)]
            for _ in range(k - 1):
                members.append(_mutate(rng, base, vocab, MUTATIONS[member % len(MUTATIONS)]))
                member += 1
            clusters.append(list(range(len(texts), len(texts) + k)))
            texts.extend(members)
    while len(texts) < DEDUP_DOCS:
        texts.append(_text(rng, vocab, *DEDUP_WORDS))
    # doc ids are a seeded permutation: cluster members do not sit together
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    near: Dict[Tuple[int, int], float] = {}
    groups: Dict[str, List[int]] = {}
    for members in clusters:
        sets = {m: shingle_set(texts[m]) for m in members}
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                j = jaccard6(sets[a], sets[b])
                pair = tuple(sorted((ids[a], ids[b])))
                if j >= JACCARD_THRESHOLD:
                    near[pair] = j
        for m in members:
            fp = " ".join(texts[m].lower().split())
            groups.setdefault(fp, []).append(ids[m])
    exact = {min(g): len(g) for g in groups.values() if len(g) > 1}
    order = sorted(range(len(texts)), key=lambda m: ids[m])
    table = pa.table(
        {
            "doc_id": pa.array([ids[m] for m in order], pa.int64()),
            "text": pa.array([texts[m] for m in order], pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
        }
    )
    # one row group, fewer than the cores: relational.load's scan
    # fan-out fires on this table
    pq.write_table(table, path, row_group_size=len(texts))
    return DocsInput(path, len(texts), near, exact)
