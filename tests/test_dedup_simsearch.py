"""Dedup + similarity-search semantics beyond the oracle gate:
MinHash-LSH recall vs exact Jaccard, SimHash Hamming bounds, ANN
candidate quality vs brute force."""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

from deepseek_ocr_2_spark.functions import textstats
from deepseek_ocr_2_spark.operators import dedup, simsearch
from deepseek_ocr_2_spark.operators.relational import load

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def exact_pairs(spark):
    rows = dedup.ngram_jaccard_pairs(spark, SF_SMALL).collect()
    return {(r.doc_a, r.doc_b): r.jaccard for r in rows}


def test_exact_pairs_are_real_near_dups(exact_pairs):
    assert len(exact_pairs) > 0, "sf0.01 documents contain planted near-dups"
    assert all(j >= dedup.JACCARD_THRESHOLD for j in exact_pairs.values())


def test_minhash_lsh_finds_every_exact_pair(spark, exact_pairs):
    """32-band/4-row LSH (threshold ~0.42): at J>=0.8 collision prob is
    1-(1-0.8^4)^32 > 0.9999 even under short-doc signature variance, so
    recall on the planted dups must be total."""
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_dedup(spark, SF_SMALL).collect()
    }
    missed = set(exact_pairs) - set(lsh)
    assert not missed, f"LSH missed exact pairs: {missed}"
    # and LSH never invents pairs below threshold (verify step prunes)
    assert all(j >= dedup.JACCARD_THRESHOLD for j in lsh.values())


def test_shingle_sets_match_python_shingles(spark):
    """The shared SQL shingle helper agrees with word-3-grams built from
    ``textstats.tokenize`` — including docs under 3 tokens (empty array,
    no out-of-bounds index under ANSI mode) and repeated shingles
    (``shs`` keeps them, ``n`` counts distinct ones)."""
    texts = {
        1: None,
        2: "",
        3: "One",
        4: "one, TWO",
        5: "one two three",
        6: "a b c a b c a",
        7: "x-y_z 42 x y z",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    got = {r.doc_id: (r.shs, r.n) for r in dedup._shingle_sets(df).collect()}
    assert got[1] == (None, None)
    for doc_id, text in texts.items():
        if text is None:
            continue
        t = textstats.tokenize(text)
        want = [" ".join(t[i:i + 3]) for i in range(len(t) - 2)]
        assert got[doc_id] == (want, len(set(want))), (doc_id, got[doc_id])
    assert got[6] == (["a b c", "b c a", "c a b", "a b c", "b c a"], 3)


def test_kernel_band_rows(spark):
    """The MinHash kernel's (doc_id, band_key) rows over sf0.01 plus
    four short docs: exactly BANDS bigint rows per doc of >= SHINGLE_K
    tokens and none for shorter ones; per band index, two docs share a
    key iff their ``minhash_bands(minhash_signature(...))`` strings are
    equal; no key is shared across band indices (the self-join matches
    keys alone); a 1-document batch gives the same keys as the full
    batch."""
    docs = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    pdf = pd.concat(
        [
            docs.toPandas(),
            pd.DataFrame(
                {"doc_id": [-1, -2, -3, -4], "text": [None, "", "a", "a, B"]}
            ),
        ],
        ignore_index=True,
    )
    want = {}
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        toks = textstats.tokenize(text or "")
        if len(toks) >= dedup.SHINGLE_K:
            sig = textstats.minhash_signature(
                toks, num_perm=dedup.NUM_PERM, k=dedup.SHINGLE_K
            )
            want[doc_id] = textstats.minhash_bands(sig, bands=dedup.BANDS)
    assert len(want) == 500

    rows = dedup._band_rows(pdf)
    assert rows.dtypes.tolist() == ["int64", "int64"]
    got = {}
    for doc_id, key in zip(rows["doc_id"], rows["band_key"]):
        got.setdefault(doc_id, []).append(key)
    assert set(got) == set(want)
    assert all(len(keys) == dedup.BANDS for keys in got.values())

    shared = 0
    band_of = {}
    for b in range(dedup.BANDS):
        by_str, by_key = {}, {}
        for doc_id in want:
            by_str.setdefault(want[doc_id][b], set()).add(doc_id)
            by_key.setdefault(got[doc_id][b], set()).add(doc_id)
            assert band_of.setdefault(got[doc_id][b], b) == b
        groups = {frozenset(g) for g in by_str.values()}
        assert groups == {frozenset(g) for g in by_key.values()}, b
        shared += sum(len(g) > 1 for g in groups)
    assert shared > 0  # planted near-dups share bands: not vacuous

    for i in range(len(pdf)):
        one = dedup._band_rows(pdf.iloc[i : i + 1])
        assert one["band_key"].tolist() == got.get(pdf["doc_id"][i], [])

    # the Spark stage yields the same rows
    spark_rows = dedup._minhash_bands_df(docs).collect()
    assert sorted((r.doc_id, r.band_key) for r in spark_rows) == sorted(
        (d, k) for d, keys in got.items() for k in keys
    )


def test_simhash_pairs_respect_hamming_bound(spark):
    rows = dedup.simhash_near_dups(spark, SF_SMALL).collect()
    assert len(rows) > 0
    assert all(r.hamming <= 3 for r in rows)


def test_simhash_kernel_agrees_with_spark_column(spark):
    sig = {
        r.doc_id: r.simhash
        for r in dedup.simhash_signatures(spark, SF_SMALL).limit(50).collect()
    }
    import duckdb

    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_SMALL}/documents.parquet' LIMIT 500"
        ).fetchall()
    )
    for doc_id, signed in list(sig.items())[:10]:
        h = textstats.simhash(textstats.tokenize(texts[doc_id]))
        expect = h - (1 << 64) if h >= (1 << 63) else h
        assert signed == expect


def test_ann_topk_overlaps_brute_force(spark):
    exact = [r.vec_id for r in simsearch.cosine_topk(spark, SF_SMALL).collect()]
    ann = [r.vec_id for r in simsearch.lsh_ann_topk(spark, SF_SMALL).collect()]
    assert len(ann) > 0
    # every ANN hit is scored identically to brute force (same rerank),
    # so ANN results must be a subset-by-rank of the exact candidates it
    # found; the registered default (probe depth 2) reaches 8/10 on the
    # fixed-seed corpus — pin a floor just below it.
    overlap = len(set(exact) & set(ann))
    assert overlap >= 6, f"ANN recall too low: {overlap}/10"


def test_banded_lsh_near_dup_recall_is_total(spark):
    """The registered query (embedding_near_dup_lsh) must return
    exactly the exact all-pairs result at the default threshold on the
    fixed-seed testdata — this equality is what licenses registering
    the exact-pairs SQL as its DuckDB oracle.  At 0.35 the router takes
    the all-pairs branch (the bands cannot prune there — ADVICE r02),
    so equality holds by construction; the LSH *branch*'s own recall is
    pinned by ``test_banded_lsh_branch_equals_exact_when_pruning``."""
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in simsearch.embedding_near_dup_pairs(spark, SF_SMALL).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b): r.cosine
        for r in simsearch.embedding_near_dup_lsh(spark, SF_SMALL).collect()
    }
    assert lsh == exact, (
        f"missed={set(exact)-set(lsh)} invented={set(lsh)-set(exact)}"
    )


def test_banded_lsh_prunes_at_production_threshold(spark):
    """At realistic near-dup thresholds (0.9) the band filter must do
    real work: planted high-cosine pairs are all recovered while the
    candidate set is a small fraction of all pairs.  (At the testdata's
    0.35 threshold no LSH can prune — collision prob 0.61 vs the 0.5 of
    random pairs — which is why this gate uses planted dups.)"""
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.standard_normal((600, 32))
    dups = base[:60] + 0.12 * rng.standard_normal((60, 32))
    mat = np.vstack([base, dups])
    n = len(mat)
    nrm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = nrm @ nrm.T
    iu = np.triu_indices(n, 1)
    thr = 0.9
    truth = set(zip(iu[0][cos[iu] >= thr].tolist(), iu[1][cos[iu] >= thr].tolist()))
    assert len(truth) >= 40, "planted dups must exist"

    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    cand = {
        (r.vec_a, r.vec_b)
        for r in simsearch.lsh_candidate_pairs(emb, thr).collect()
    }
    missed = truth - cand
    assert not missed, f"candidates missed true pairs: {missed}"
    frac = len(cand) / len(iu[0])
    assert frac < 0.10, f"no pruning: candidate fraction {frac:.3f}"


def test_banded_lsh_branch_equals_exact_when_pruning(spark, tmp_path):
    """End-to-end equality of the LSH *branch* (the plan the router
    takes at production thresholds) against the exact all-pairs answer
    on a planted-duplicate corpus where the bands genuinely prune."""
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.standard_normal((300, 24))
    dups = base[:40] + 0.1 * rng.standard_normal((40, 24))
    mat = np.vstack([base, dups])
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )
    emb.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    sf_dir = str(tmp_path)
    thr = 0.9
    assert simsearch.lsh_prunes_at(thr)
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in simsearch.embedding_near_dup_pairs(spark, sf_dir, thr).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b): r.cosine
        for r in simsearch.embedding_near_dup_lsh(spark, sf_dir, thr).collect()
    }
    assert len(exact) >= 30, "planted dups must clear the threshold"
    assert lsh == exact


def test_band_params_scale_with_threshold():
    """Higher thresholds buy more bits per band (selectivity) at fixed
    recall; every configuration keeps the design miss prob."""
    import math

    prev_k = 0
    for t in (0.35, 0.6, 0.8, 0.9):
        k, bands = simsearch.band_params(t)
        p = 1.0 - math.acos(t) / math.pi
        assert k >= prev_k
        prev_k = k
        assert (1.0 - p**k) ** bands <= 1.05e-5  # design recall holds
    # and the pruning exponent actually improves: random pairs pass a
    # band with 0.5^k, so expected candidate rate falls with threshold
    k_low, L_low = simsearch.band_params(0.35)
    k_hi, L_hi = simsearch.band_params(0.9)
    rate_low = 1 - (1 - 0.5**k_low) ** L_low
    rate_hi = 1 - (1 - 0.5**k_hi) ** L_hi
    assert rate_hi < rate_low / 5


def test_simhash_block_count_tracks_corpus_size():
    """Key width must dominate log2(corpus): more blocks at larger n."""
    small = dedup.simhash_block_count(500)
    big = dedup.simhash_block_count(10**9)
    huge = dedup.simhash_block_count(10**12)
    assert small <= big <= huge
    for n, nb in ((500, small), (10**9, big), (10**12, huge)):
        keep = nb - 3
        key_bits = 64 * keep // nb
        import math
        assert key_bits >= math.log2(n) + 8 or nb == 32


def test_simhash_output_invariant_to_block_layout(spark):
    """The block-combination index is exact (pigeonhole): ANY valid
    n_blocks yields the identical verified pair set."""
    base = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_near_dups(spark, SF_SMALL, n_blocks=4).collect()
    }
    wide = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_near_dups(spark, SF_SMALL, n_blocks=8).collect()
    }
    derived = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_near_dups(spark, SF_SMALL).collect()
    }
    assert base == wide == derived
    assert len(base) > 0


def test_release_caches_drops_tracked_blocks(spark):
    """Persisted intermediates accumulate across dedup queries in a
    long-lived session; release_caches() must drop every tracked one."""
    from deepseek_ocr_2_spark.operators.cachereg import release_caches

    release_caches()  # clean slate from earlier tests in this module
    dedup.minhash_lsh_dedup(spark, SF_SMALL).count()
    n = release_caches()
    # round 7: exactly the band keys — the verify stage now builds
    # per-doc shingle ARRAYS as a narrow projection (no shuffle), so
    # the round-6 shingle-set persist no longer exists
    assert n == 1
    assert release_caches() == 0  # idempotent


def test_ann_plane_count_tracks_corpus():
    assert simsearch.ann_plane_count(500) == 6  # floor (testdata scale)
    assert simsearch.ann_plane_count(10**6) == 14
    assert simsearch.ann_plane_count(10**9) == 24
    assert simsearch.ann_plane_count(10**12) == 34
    # expected bucket occupancy stays ~ANN_TARGET_BUCKET
    for n in (10**6, 10**9, 10**12):
        k = simsearch.ann_plane_count(n)
        assert n / 2**k <= simsearch.ANN_TARGET_BUCKET


def test_band_params_rejects_degenerate_thresholds():
    import pytest as _pytest

    for bad in (1.0, 0.0, -0.5, 1.5):
        with _pytest.raises(ValueError):
            simsearch.band_params(bad)


def test_band_params_bounded_at_extreme_thresholds():
    """Near-1.0 thresholds must neither hang nor overflow the int64
    band-key packing (k capped at 62)."""
    k, bands = simsearch.band_params(0.9999)
    assert 1 <= k <= 62 and bands >= 1
    k2, _ = simsearch.band_params(1 - 1e-12)
    assert k2 <= 62


def test_banded_lsh_warns_when_threshold_cannot_prune(spark):
    import warnings

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        simsearch.banded_lsh_keys(emb, 0.35).count()
    assert any("no pruning" in str(x.message) for x in w)


def test_index_sizing_runs_no_spark_count_job(spark, monkeypatch):
    """Layout sizing (ANN plane count, SimHash block count) must come
    from snapshot statistics (parquet footers), never a Spark count()
    job at plan-build time (VERDICT r02 'What's wrong' #2)."""
    from pyspark.sql import DataFrame

    from deepseek_ocr_2_spark.sources.stats import parquet_row_count

    assert parquet_row_count(SF_SMALL, "documents") == 500
    assert parquet_row_count(SF_SMALL, "embeddings") == 500

    def boom(self):
        raise AssertionError("count() job at plan-build time")

    monkeypatch.setattr(DataFrame, "count", boom)
    # plan BUILD must not trigger a job (the queries stay lazy here)
    simsearch.lsh_buckets(spark, SF_SMALL)
    dedup.simhash_near_dups(spark, SF_SMALL)


def test_ann_multi_probe_recall_rises_with_probe_level(spark):
    """The multi-probe knob must trade candidate-scan fraction for
    recall monotonically: more Hamming levels -> recall vs brute force
    never drops, and at full probe depth (all buckets) the ANN answer
    IS the exact answer (same rerank expression)."""
    exact = [r.vec_id for r in simsearch.cosine_topk(spark, SF_SMALL).collect()]
    prev = -1
    for h in (0, 1, 2):
        ann = [
            r.vec_id
            for r in simsearch.lsh_ann_topk(spark, SF_SMALL, probe_hamming=h).collect()
        ]
        overlap = len(set(exact) & set(ann))
        assert overlap >= prev, f"recall dropped at probe level {h}"
        prev = overlap
    # probing every bucket degenerates to the exact scan
    n_planes = simsearch.ann_plane_count(500)
    full = [
        r.vec_id
        for r in simsearch.lsh_ann_topk(
            spark, SF_SMALL, probe_hamming=n_planes
        ).collect()
    ]
    assert full == exact


def test_multi_probe_enumeration():
    probes = simsearch._multi_probes("0101", 1)
    assert probes[0] == "0101" and len(probes) == 5
    assert len(set(probes)) == 5
    probes2 = simsearch._multi_probes("0101", 2)
    assert len(probes2) == 1 + 4 + 6


def test_parquet_column_max_rejects_non_integer_columns():
    """ADVICE r05: string/binary parquet min/max may be truncated
    by the writer, so the footer fold is only exact for integer
    physical types — a string-column caller must fail loudly."""
    import pytest as _pytest

    from deepseek_ocr_2_spark.sources.stats import parquet_column_max

    from .conftest import SF_SMALL

    assert parquet_column_max(SF_SMALL, "embeddings", "vec_id") == 499
    with _pytest.raises(TypeError, match="physical type"):
        parquet_column_max(SF_SMALL, "documents", "text")


def test_planted_embeddings_id_collision_guard(spark, tmp_path):
    """At a corpus whose vec_ids reach PLANT_COPY_OFFSET the planted
    ids would double-assign — and the oracle replays the same
    arithmetic, so the hash row would stay green on a broken plant
    (ADVICE r04).  The guard must fail loudly from footer stats."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from deepseek_ocr_2_spark.operators import simsearch

    tbl = pa.table(
        {
            "vec_id": pa.array(
                [1, simsearch.PLANT_COPY_OFFSET + 5], type=pa.int64()
            ),
            "embedding": pa.array(
                [[0.1, 0.2], [0.3, 0.4]], type=pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    with _pytest.raises(RuntimeError, match="PLANT_COPY_OFFSET"):
        simsearch.planted_embeddings(spark, str(tmp_path))


def test_shingle_df_cap_is_relative_above_the_floor():
    """The boilerplate cap must track corpus size: a fixed absolute cap
    empties the candidate set on duplicate-heavy corpora (round-6 sf1
    probe: 0 pairs at 50k docs where MinHash found 250,600)."""
    assert dedup.shingle_df_cap(0) == dedup.MAX_SHINGLE_DF
    assert dedup.shingle_df_cap(500) == dedup.MAX_SHINGLE_DF
    assert dedup.shingle_df_cap(5_000) == dedup.MAX_SHINGLE_DF
    assert dedup.shingle_df_cap(5_100) == 51
    assert dedup.shingle_df_cap(50_000) == 500
    assert dedup.shingle_df_cap(10_000_000) == 100_000


def test_relative_cap_keeps_engines_agreeing_and_finds_dups(
    spark, tmp_path, monkeypatch
):
    """Differential check with the RELATIVE term active (impossible at
    CI corpus sizes with production constants, so the floor/fraction
    are monkeypatched): 10 groups x 3 exact replicas.  With floor=2
    every replica shingle (df=3) would be dropped -> 0 pairs; the
    relative term lifts the cap to max(2, 30*0.1)=3, the replicas are
    found, and Spark must still agree with the oracle SQL (whose
    GREATEST/COUNT(*) scalar subquery replays the same arithmetic)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for g in range(10):
        words = " ".join(f"g{g}word{j}" for j in range(12))
        for r in range(3):
            rows.append((g * 10 + r, words))
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "text": pa.array([r[1] for r in rows], type=pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    monkeypatch.setattr(dedup, "MAX_SHINGLE_DF", 2)
    monkeypatch.setattr(dedup, "SHINGLE_DF_FRAC", 0.1)
    assert dedup.shingle_df_cap(len(rows)) == 3

    spdf = dedup.ngram_jaccard_pairs(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet'"
    )
    opdf = con.sql(dedup.ngram_jaccard_oracle()).df()
    con.close()

    spark_pairs = {
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in spdf.itertuples()
    }
    oracle_pairs = {
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in opdf.itertuples()
    }
    # 3 replica pairs per group, Jaccard exactly 1.0
    assert len(spark_pairs) == 30
    assert all(j == 1.0 for _, _, j in spark_pairs)
    assert spark_pairs == oracle_pairs


def test_dup_heavy_gate_ngram_equals_minhash_at_production_constants(
    spark, tmp_path
):
    """Standing dup-heavy scale gate (VERDICT r06 next-steps #3), with
    PRODUCTION constants — no monkeypatching: 6,000 docs put the
    relative term in charge (cap = max(50, 60) = 60) at a CI-affordable
    size.  A 56-copy exact-duplicate group (every shingle df = 56) sits
    exactly in the (50, 60] band: the round-5 absolute
    ``MAX_SHINGLE_DF=50`` behavior drops ALL of its posting lists and
    ngram returns none of its C(56,2)=1,540 pairs, while MinHash still
    finds them — so this test fails loudly if an absolute cap (or any
    other scale cliff that splits the two independent algorithms) is
    ever reintroduced.  Filler docs carry globally unique shingles
    (singleton posting lists) so they only contribute corpus size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from deepseek_ocr_2_spark.operators.cachereg import release_caches
    from deepseek_ocr_2_spark.sources.stats import parquet_row_count

    base = pq.read_table(f"{SF_SMALL}/documents.parquet", columns=["doc_id", "text"])
    doc_ids = base["doc_id"].to_pylist()
    texts = base["text"].to_pylist()
    src = dict(zip(doc_ids, texts))
    COPY_SRC, N_COPIES, COPY_BASE = 3, 55, 1_000_000
    rows = list(zip(doc_ids, texts))
    rows += [(COPY_BASE + i, src[COPY_SRC]) for i in range(N_COPIES)]
    n_fill = 6_000 - len(rows)
    rows += [
        (2_000_000 + i, f"fill{i}a fill{i}b fill{i}c fill{i}d fill{i}e")
        for i in range(n_fill)
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "text": pa.array([r[1] for r in rows], type=pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    assert parquet_row_count(str(tmp_path), "documents") == 6_000
    assert dedup.shingle_df_cap(6_000) == 60  # relative term in charge

    ng = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(spark, str(tmp_path)).collect()
    }
    mh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_dedup(spark, str(tmp_path)).collect()
    }
    release_caches()

    # the two independent algorithms must agree exactly (pairs + scores)
    assert ng == mh, (
        f"ngram/minhash disagree: only-ngram={sorted(set(ng) - set(mh))[:5]} "
        f"only-minhash={sorted(set(mh) - set(ng))[:5]}"
    )
    # and the copy group must actually be IN the result — the absolute
    # 50-cap behavior silently drops every one of these from ngram
    group = [COPY_SRC] + [COPY_BASE + i for i in range(N_COPIES)]
    expected = {
        (a, b) for i, a in enumerate(group) for b in group[i + 1 :]
    }
    missing = expected - set(ng)
    assert not missing, f"copy-group pairs missing: {sorted(missing)[:5]}"
    assert all(ng[p] == 1.0 for p in expected)


def test_band_recall_tool_pins_the_seed_35_miss():
    """``tools/band_recall.py`` on the benchmark's seed 35 (2,154 planted
    pairs): the pipeline's 32x4 layout misses the one known pair, 42x3
    misses none."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import band_recall

    report = band_recall.main(["--seeds", "35", "--layouts", "32x4,42x3"])
    assert (dedup.BANDS, dedup.NUM_PERM // dedup.BANDS) == (32, 4)
    assert [(r["pairs"], r["missed"]) for r in report] == [
        (2154, [[35, 581, 3336]]),
        (2154, []),
    ]
