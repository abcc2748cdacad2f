"""Near-duplicate detection suite over the documents table.

Four strategies, each a first-class pipeline stage (SURVEY §2 addendum —
the training-data operators the reference lacks but a 100 TB corpus
job needs):

* exact         — hash-groupBy (``textops.fingerprint_exact_dedup``)
* n-gram Jaccard — exact shingle-overlap pairs, fully SQL-expressible
                   (per-row shingle arrays -> inverted-index groupBy ->
                   C(k,2) pair explode with per-doc totals carried in
                   the posting list), oracle-verified
* MinHash + LSH — signature via Arrow-batched kernel, band keys exploded
                  JVM-side, candidate pairs from band-bucket self-join,
                  verified by exact Jaccard on the candidates only
* SimHash       — 64-bit signature kernel; near-dup candidates via the
                  4x16-bit band trick (Hamming<=3 pairs must share a band)

Scale notes: the Jaccard self-join shuffles on the shingle key — at
10^12 docs that join is what MinHash/LSH exists to avoid: LSH touches
only ``bands`` rows per doc and its self-join keys are 128-bit band
buckets whose expected bucket size is O(1) for non-duplicate text, so
candidate generation stays linear.  The exact-Jaccard verify runs only
on candidates (a tiny fraction).  Hot shingles (boilerplate n-grams)
are the skew risk: the LSH path is immune (bucket = whole band of the
signature), while the exact path caps shingle fan-out via a frequency
filter, the standard stopword-shingle guard.
"""

from __future__ import annotations

from typing import Iterator, List

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from ..functions import textstats
from .relational import alnum_tokens, load

JACCARD_THRESHOLD = 0.8
NUM_PERM = 128
# 32 bands x 4 rows: LSH threshold (1/32)^(1/4) ~= 0.42 — generous for
# t=0.8 so short docs (high signature variance) still collide; the
# exact-Jaccard verify prunes the extra candidates.
BANDS = 32
SHINGLE_K = 3
# Shingles appearing in more than max(MAX_SHINGLE_DF, SHINGLE_DF_FRAC
# of the corpus) docs are boilerplate; excluded from the exact pair
# join to cap fan-out (both engines).  The cap must be RELATIVE above
# the floor: document frequency grows linearly with corpus size, so a
# fixed absolute cap silently empties the candidate set as the corpus
# grows — the round-6 sf1 probe (50k docs, every doc x10 replicas: a
# duplicate-heavy web corpus, the dedup target workload) returned 0
# pairs under the absolute cap where MinHash found 250,600, because
# every replica-inflated posting list blew past 50.  With the relative
# term the cap tracks what "boilerplate" means at any scale; below
# 5,000 docs (all CI gates, the crafted corpus, the fuzz corpora) it
# is byte-identical to the old constant.
MAX_SHINGLE_DF = 50
SHINGLE_DF_FRAC = 0.01


def shingle_df_cap(n_docs: int) -> int:
    """Boilerplate document-frequency cap for a corpus of ``n_docs``.

    ``max(MAX_SHINGLE_DF, floor(n_docs * SHINGLE_DF_FRAC))`` — the SQL
    oracle computes the identical expression via GREATEST over a
    COUNT(*) scalar subquery, so both engines scale the cap together.
    """
    return max(MAX_SHINGLE_DF, int(n_docs * SHINGLE_DF_FRAC))


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shs, n): each doc's word-3-gram array and its distinct
    shingle count, one narrow projection over the token array.

    The regex runs once per row: ``slice(t, 1, greatest(size(t)-2, 0))``
    keeps every shingle start in bounds (no ANSI index error), so docs
    under 3 tokens get an empty array instead of needing a
    ``size(t) >= 3`` Filter — which Catalyst would push below the
    projection (and the scan fan-out) with a second copy of the regex.
    ``n`` is per document, computed before any caller explodes."""
    return (
        docs.select("doc_id", alnum_tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.expr(
                "transform(slice(t, 1, greatest(size(t) - 2, 0)),"
                " (x, i) -> concat(x, ' ', t[i + 1], ' ', t[i + 2]))"
            ).alias("shs"),
        )
        .select("doc_id", "shs", F.size(F.array_distinct("shs")).alias("n"))
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.8 near-duplicate pairs (oracle-backed).

    Streaming single-pass plan (round 7, guide §2.3/§2.4): the corpus is
    scanned ONCE and each doc's distinct-shingle count ``n`` is computed
    per row (``size(array_distinct(...))`` — a narrow projection, no
    shuffle) and CARRIED through the shingle shuffle inside the posting
    list as ``struct(doc_id, n)``.  Exploding C(k,2) combinations from
    each <=shingle_df_cap posting list then yields (doc_a, na, doc_b,
    nb) directly, so the pair aggregation needs NO per-doc-counts
    aggregation and NO count joins afterwards.  vs the round-6 shape
    this removes one aggregation exchange, two joins (and their
    broadcast/shuffle exchanges) and the posting-list persist — the
    whole query is 3 exchanges (shingle group, pair group, output sort)
    and nothing is materialized.  Cost: 8 extra bytes per shuffled
    shingle row, repaid many times over by the removed downstream work.
    The cap is sized from the parquet footer row count (never a count()
    job at plan build) so it stays RELATIVE to the corpus; see the
    MAX_SHINGLE_DF/SHINGLE_DF_FRAC note for the sf1-probe failure mode
    of an absolute cap.
    """
    from ..sources.stats import parquet_row_count

    df_cap = shingle_df_cap(parquet_row_count(sf_dir, "documents"))
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # per-(doc, shingle) dedup happens INSIDE the posting-list
    # aggregation (collect_set of structs), so the corpus shuffles once
    # (on shingle).  explode_outer, deliberately: plain explode's
    # InferFiltersFromGenerate adds ``size(shs) > 0`` below the
    # Generate, and pushdown then inlines the shingle transform (regex
    # included) into a per-row scan-side Filter.  Docs with no shingle
    # (under 3 tokens, null text) explode to one null row, dropped above
    # the Generate.
    sh = (
        _shingle_sets(docs)
        .select("doc_id", "n", F.explode_outer("shs").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )
    grouped = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_set(F.struct("doc_id", "n"))).alias("ds")
    )
    # explode_outer again: every surviving posting list has >= 2 docs,
    # hence >= 1 combination — and plain explode's inferred filter
    # would evaluate the whole C(k,2) flatten a second time per list
    pairs = (
        grouped.filter(
            (F.size("ds") >= 2) & (F.size("ds") <= df_cap)
        )
        .select(
            F.explode_outer(
                F.expr(
                    "flatten(transform(ds, (x, i) ->"
                    " transform(slice(ds, i + 2, size(ds)),"
                    " y -> struct(x.doc_id AS doc_a, x.n AS na,"
                    " y.doc_id AS doc_b, y.n AS nb))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.na", "p.doc_b", "p.nb")
    )
    # na/nb are functionally dependent on doc_a/doc_b, so adding them to
    # the grouping key changes nothing about the groups
    return (
        pairs.groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "inter", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS t(i)
      WHERE len(ts) >= 3
    ), counts AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), rare AS (
      SELECT * FROM sh WHERE shingle IN (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(*) <= GREATEST({MAX_SHINGLE_DF}, CAST(floor(
          (SELECT COUNT(*) FROM documents) * {SHINGLE_DF_FRAC}) AS BIGINT)))
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM rare a JOIN rare b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.inter,
           ROUND(p.inter*1.0/(ca.n + cb.n - p.inter), 6) AS jaccard
    FROM pairs p
    JOIN counts ca ON p.doc_a = ca.doc_id
    JOIN counts cb ON p.doc_b = cb.doc_id
    WHERE ROUND(p.inter*1.0/(ca.n + cb.n - p.inter), 6) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """


_SIG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("bands", ArrayType(StringType()), False),
    ]
)


def _minhash_bands_df(docs: DataFrame) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: List[int] = []
            out_bands: List[List[str]] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = textstats.tokenize(text or "")
                if len(toks) < SHINGLE_K:
                    # below dedup resolution: same universe as the
                    # exact-shingle verify stage (which requires >=k
                    # tokens), and keeps the n empty/near-empty docs
                    # from all sharing one sentinel bucket (a C(n,2)
                    # candidate blowup)
                    continue
                sig = textstats.minhash_signature(
                    toks, num_perm=NUM_PERM, k=SHINGLE_K
                )
                ids.append(int(doc_id))
                out_bands.append(textstats.minhash_bands(sig, bands=BANDS))
            if ids:
                yield pd.DataFrame({"doc_id": ids, "bands": out_bands})

    return docs.mapInPandas(run, schema=_SIG_SCHEMA)


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket candidate pairs (shuffle key = band hash)."""
    from .cachereg import persist_tracked

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # persist: both sides of the band self-join read this, and the
    # signature kernel (the expensive stage) must run once, not twice
    bands = persist_tracked(
        _minhash_bands_df(docs)
        .select("doc_id", F.explode("bands").alias("band_key"))
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard on tokens.

    The verify stage joins per-doc distinct-shingle ARRAYS to the
    candidate pairs by doc id and scores ``array_intersect`` — at scale
    this is the cheap step (candidates << all pairs), and the arrays
    are a narrow per-row projection, never a shuffled explode.

    Oracle-backed: the output is the exact-Jaccard pair set at
    >= JACCARD_THRESHOLD (the LSH stage only *generates candidates*;
    every emitted pair is verified by true shingle Jaccard), and the
    banded layout's per-pair miss probability at J>=0.8 is < 1e-4
    (1-(1-0.8^4)^32), with total recall on the fixed-seed testdata
    pinned by ``tests/test_dedup_simsearch.py`` — so the all-pairs
    exact SQL (``minhash_lsh_oracle``) is a true oracle for it, the
    same licensing move as ``embedding_near_dup_lsh``.

    NOTE: the 1-(1-J^rows)^bands collision model only holds because
    ``minhash_signature`` is a genuine min-wise family — the round-6
    seeded fuzz (seed 505) caught a degenerate modulus choice that
    invalidated exactly this claim at J<~0.95 (see the _MINHASH_P note
    in ``functions/textstats.py``); ``test_oracle_fuzz`` and the
    unbiasedness property test now guard it.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    cands = minhash_lsh_candidates(spark, sf_dir)
    # Verify via per-doc shingle ARRAYS (round 7, guide §2.3/§2.4): the
    # shingle set of a doc is a pure per-row function of its token
    # array, so it is a narrow projection (no explode, no shuffle, no
    # persist) joined to the candidate pairs by doc id.
    # ``size(array_intersect(sa, sb))`` is the distinct shared-shingle
    # count, and ``n`` the distinct per-doc count — one row per doc
    # instead of one per shingle.
    sets = _shingle_sets(docs)
    sa = sets.toDF("doc_a", "sa", "na")
    sb = sets.toDF("doc_b", "sb", "nb")
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).alias("inter"),
            "na",
            "nb",
        )
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def minhash_lsh_oracle() -> str:
    """Exact all-pairs Jaccard >= threshold, UNCAPPED (no MAX_SHINGLE_DF
    filter): the MinHash verify step counts ALL shared shingles, so its
    oracle must too.  (The capped variant ``ngram_jaccard_oracle`` and
    this one agree on the testdata — the planted near-dup pairs share
    no boilerplate shingles — but the uncapped form is the semantically
    exact twin of what ``minhash_lsh_dedup`` computes.)"""
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS t(i)
      WHERE len(ts) >= 3
    ), counts AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(p.inter*1.0/(ca.n + cb.n - p.inter), 6) AS jaccard
    FROM pairs p
    JOIN counts ca ON p.doc_a = ca.doc_id
    JOIN counts cb ON p.doc_b = cb.doc_id
    WHERE ROUND(p.inter*1.0/(ca.n + cb.n - p.inter), 6) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """


_SIMHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("simhash", LongType(), False),
    ]
)


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (signed two's-complement long)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                h = textstats.simhash(textstats.tokenize(text or ""))
                signed = h - (1 << 64) if h >= (1 << 63) else h
                rows.append({"doc_id": int(doc_id), "simhash": signed})
            yield pd.DataFrame(rows)

    return docs.mapInPandas(run, schema=_SIMHASH_SCHEMA)


def simhash_block_count(corpus_size: int, max_hamming: int = 3) -> int:
    """Corpus-size-aware block count for the block-combination index.

    With ``n_blocks`` blocks over the 64-bit signature, any pair within
    Hamming ``max_hamming`` shares at least ``n_blocks - max_hamming``
    untouched blocks (pigeonhole), so keying on every
    C(n_blocks, n_blocks - max_hamming) combination of blocks finds all
    such pairs exactly.  The join key is ``keep = n_blocks - max_hamming``
    blocks wide, i.e. ``64 * keep / n_blocks`` bits -> the bucket space
    must dominate the corpus (key bits >= log2(n) + 8) or band buckets
    grow linearly with corpus size and the self-join goes quadratic —
    the round-1 defect of the fixed 4x16-bit layout at 10^12 docs
    (VERDICT r01 "What's wrong" #4).  More blocks = more (but smaller)
    join tables: the classic table-count / key-width trade
    (Manku, Jain, Das Sarma 2007, "Detecting Near-Duplicates for Web
    Crawling" §3).
    """
    import math

    need_bits = max(16, math.ceil(math.log2(max(corpus_size, 2))) + 8)
    for n_blocks in range(max_hamming + 1, 33):
        keep = n_blocks - max_hamming
        key_bits = 64 * keep // n_blocks
        if key_bits >= need_bits:
            return n_blocks
    return 32


def simhash_near_dups(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Hamming<=3 near-duplicate pairs via the block-combination index.

    The 64-bit signature splits into ``n_blocks`` blocks; for every
    combination of ``n_blocks - max_hamming`` blocks, a join key packs
    those blocks into one long.  A pair within ``max_hamming`` collides
    on at least one combination (pigeonhole — exact, not probabilistic),
    and every candidate is verified by true Hamming distance JVM-side
    (bit_count on xor), so the result is identical for ANY valid
    ``n_blocks``; the knob only moves the bucket-size / table-count
    trade.  Defaults derive ``n_blocks`` from the corpus row count so
    key width tracks log2(corpus).
    """
    from itertools import combinations

    if n_blocks is None:
        # layout sizing comes from snapshot statistics (parquet footer
        # row counts) — NOT a Spark count() job at plan-build time
        # (VERDICT r02 "What's wrong" #2); the exact value barely
        # matters (output is layout-invariant), only its log2 does
        from ..sources.stats import parquet_row_count

        n_blocks = simhash_block_count(
            parquet_row_count(sf_dir, "documents"), max_hamming
        )
    keep = n_blocks - max_hamming
    assert keep >= 1, "n_blocks must exceed max_hamming"
    bounds = [round(i * 64 / n_blocks) for i in range(n_blocks + 1)]

    def block(col: F.Column, i: int) -> F.Column:
        lo, hi = bounds[i], bounds[i + 1]
        width = hi - lo
        mask = (1 << width) - 1
        return F.shiftrightunsigned(col, lo).bitwiseAND(F.lit(mask))

    from .cachereg import persist_tracked

    # both sides of the self-join read the signatures; persist so the
    # kernel (the expensive stage) runs once (tracked: release_caches())
    sig = persist_tracked(simhash_signatures(spark, sf_dir))
    # one row per (doc, combination): key packs the kept blocks; combo
    # index disambiguates key spaces.  Emitted as one array + explode —
    # a single narrow projection, no per-combination scans.
    combo_keys = []
    for ci, combo in enumerate(combinations(range(n_blocks), keep)):
        key = F.lit(0).cast("long")
        shift = 0
        for i in combo:
            width = bounds[i + 1] - bounds[i]
            key = key.bitwiseXOR(
                F.shiftleft(block(F.col("simhash"), i), shift)
            )
            shift += width
        combo_keys.append(F.struct(F.lit(ci).alias("combo"), key.alias("k")))
    keyed = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*combo_keys)).alias("ck"),
    ).select("doc_id", "simhash", "ck.combo", "ck.k")

    a = keyed.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"),
        "combo", "k",
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"),
        "combo", "k",
    )
    return (
        a.join(b, ["combo", "k"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def simhash_oracle(max_hamming: int = 3) -> str:
    """DuckDB replica of the full SimHash pipeline — signature AND pairs.

    The kernel (``textstats.simhash``) is md5-based, so it IS
    SQL-expressible: per token-occurrence, ``_hash64`` = the md5
    digest's first 8 bytes big-endian, which DuckDB exposes as
    ``md5_number_upper`` in LITTLE-endian — the byteswap below bridges
    the two exactly.  Per-bit ±1 accumulation and the sign rule then
    rebuild the 64-bit signature; pairs are all-pairs xor/popcount
    (fine at oracle scale; the Spark side uses the block-combination
    index for the same answer).  Docs with zero ``[a-z0-9]`` tokens get
    signature 0, exactly like the kernel's empty-token branch.
    """
    swap = " + ".join(
        f"((md5_number_upper(tok) >> {8 * i}) & 255)::UBIGINT"
        f" * {1 << (8 * (7 - i))}::UBIGINT"
        for i in range(8)
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS ts
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(ts) AS tok FROM t
    ), h AS (
      SELECT doc_id, ({swap}) AS h64 FROM tok
    ), bits AS (
      SELECT doc_id, g.b AS bit,
             SUM(CASE WHEN ((h64 >> g.b) & 1) = 1 THEN 1 ELSE -1 END) AS acc
      FROM h, UNNEST(generate_series(0, 63)) AS g(b)
      GROUP BY 1, 2
    ), sig0 AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN acc > 0 THEN (1::UBIGINT << bit)
                           ELSE 0::UBIGINT END) AS UBIGINT) AS usig
      FROM bits GROUP BY doc_id
    ), sig AS (
      SELECT t.doc_id, COALESCE(sig0.usig, 0::UBIGINT) AS usig
      FROM t LEFT JOIN sig0 USING (doc_id)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.usig, b.usig)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.usig, b.usig)) <= {max_hamming}
    ORDER BY doc_a, doc_b
    """
