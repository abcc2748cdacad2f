"""Text-analysis operators over the documents table — the training-data
pipeline surface (language ID, quality scoring, token counting,
fingerprinting).  JVM-side built-ins wherever the semantics allow
(oracle-verifiable, whole-stage-codegen friendly); the Python kernels in
``functions/textstats.py`` back only the genuinely non-SQL paths.

Determinism: per-row arithmetic only (ratios of ints, IEEE-exact in
both engines); no order-dependent float aggregates.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import textstats
from .pyworker import drop_zip_finders
from .relational import alnum_tokens, load


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + alnum-token count per document."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ws_tokens"),
        F.size(alnum_tokens(F.col("text"))).alias("alnum_tokens"),
    )


def token_count_oracle() -> str:
    return r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS alnum_tokens
    FROM documents
    """


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-statistics quality score, JVM-side.

    Same formula as ``functions/textstats.quality_score`` restricted to
    the ASCII feature set both engines compute identically: mean of
    (length signal, [a-zA-Z] ratio, non-punctuation ratio).  All three
    terms are ratios of exact ints -> IEEE-identical across engines.
    """
    docs = load(spark, sf_dir, "documents")
    n = F.length("text")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    punct = F.length(
        F.regexp_replace(F.col("text"), r"[^.,;:!?\"'()\[\]{}]", "")
    )
    score = (
        F.least(F.lit(1.0), n / F.lit(500.0))
        + alpha / n
        + (F.lit(1.0) - punct / n)
    ) / F.lit(3.0)
    return docs.filter(n > 0).select(
        "doc_id", F.round(score, 6).alias("quality"),
        (n >= 200).alias("long_enough"),
    )


def quality_score_oracle() -> str:
    return r"""
    SELECT doc_id,
           ROUND((LEAST(1.0, length(text)/500.0)
                  + length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))*1.0/length(text)
                  + (1.0 - length(regexp_replace(text, '[^.,;:!?"''()\[\]{}]', '', 'g'))*1.0/length(text))
                 ) / 3.0, 6) AS quality,
           length(text) >= 200 AS long_enough
    FROM documents WHERE length(text) > 0
    """


def fingerprint_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 of whitespace-normalized lowercase text; keep the
    min doc_id per group, count members (hash-groupBy dedup)."""
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    ).alias("fingerprint")
    return (
        docs.select("doc_id", fp)
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .orderBy("fingerprint")
    )


def fingerprint_oracle() -> str:
    return r"""
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS group_size
    FROM documents
    GROUP BY 1 ORDER BY fingerprint
    """


def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language histogram joined with mean length per language."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .orderBy("lang")
    )


def lang_distribution_oracle() -> str:
    return """
    -- CAST(SUM .. AS BIGINT): DuckDB promotes SUM(BIGINT) to HUGEINT,
    -- which pandas renders as float64 and fails the driver's hash check
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation filter — what this engine is
    for: keep documents that (a) clear the quality floor, (b) are long
    enough, (c) are the canonical survivor of their near-duplicate
    group (anti-join the doc_b side of the exact 3-gram Jaccard pairs),
    (d) are in an allowed language.  Fully oracle-verified end to end.
    """
    from .dedup import ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    n = F.length("text")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    quality = (
        F.least(F.lit(1.0), n / F.lit(500.0)) + alpha / n
    ) / F.lit(2.0)
    dup_losers = ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("doc_b").alias("doc_id")
    )
    return (
        docs.filter(n >= 100)
        .filter(F.col("lang").isin("en", "de", "fr", "es", "zh"))
        .withColumn("quality", F.round(quality, 6))
        .filter(F.col("quality") >= 0.5)
        .join(dup_losers, "doc_id", "left_anti")
        .select("doc_id", "lang", "quality", n.alias("n_chars_actual"))
        .orderBy("doc_id")
    )


def corpus_curation_oracle() -> str:
    from .dedup import ngram_jaccard_oracle

    return f"""
    WITH dup_pairs AS ({ngram_jaccard_oracle()})
    SELECT doc_id, lang,
           ROUND((LEAST(1.0, length(text)/500.0)
                  + length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))*1.0/length(text)
                 ) / 2.0, 6) AS quality,
           length(text) AS n_chars_actual
    FROM documents
    WHERE length(text) >= 100
      AND lang IN ('en','de','fr','es','zh')
      AND ROUND((LEAST(1.0, length(text)/500.0)
                 + length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))*1.0/length(text)
                ) / 2.0, 6) >= 0.5
      AND doc_id NOT IN (SELECT doc_b FROM dup_pairs)
    ORDER BY doc_id
    """


_WINNOW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_windows", LongType(), False),
        StructField("n_fingerprints", LongType(), False),
        StructField("min_fingerprint", StringType(), True),
    ]
)


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via Karp-Rabin rolling hashes + winnowing
    (Schleimer et al. 2003) — the copy-detection fingerprint set, as an
    Arrow-batched stage over the documents table (rows-only check: the
    rolling-hash recurrence is not SQL-expressible)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hashes = textstats.rolling_hashes(text or "")
                fps = textstats.winnow(hashes)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_windows": len(hashes),
                        "n_fingerprints": len(fps),
                        "min_fingerprint": (
                            format(min(fps), "016x") if fps else None
                        ),
                    }
                )
            yield pd.DataFrame(rows)
        drop_zip_finders()

    return docs.mapInPandas(run, schema=_WINNOW_SCHEMA)


def winnow_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable projection of the winnowing stage: the
    rolling-hash window count is pure length arithmetic
    (max(0, len-63) for 64-char windows), so DuckDB can verify the
    kernel ran over every document with the right geometry even though
    the fingerprint hashes themselves are not SQL-expressible."""
    return winnow_fingerprints(spark, sf_dir).select(
        "doc_id", "n_windows"
    ).orderBy("doc_id")


def winnow_window_counts_oracle() -> str:
    return """
    SELECT doc_id,
           GREATEST(COALESCE(length(text), 0) - 63, 0) AS n_windows
    FROM documents ORDER BY doc_id
    """


# Shared with functions/textstats.detect_language — the heuristic is
# deliberately SQL-expressible (token-occurrence stopword votes + CJK
# char counts + a fixed-order argmax), so the SAME decision runs
# JVM-side here (whole-stage codegen, oracle-verifiable) and as the
# Python kernel (parity-pinned by tests/test_textstats.py).  The CJK
# character class comes from the kernel's compiled regex — one source
# for a parity-critical constant across all three implementations.
_CJK_CLASS = textstats._CJK_RE.pattern


def _marker_lists() -> dict:
    return {
        lang: sorted(markers)
        for lang, markers in textstats._LANG_MARKERS.items()
    }


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID, JVM-side (oracle-backed).

    Decision rule (identical to ``textstats.detect_language``):
    empty text -> 'und'; >=5 CJK chars or >5% CJK ratio -> 'zh'; else
    argmax of per-language stopword-occurrence votes over the
    ``alnum_tokens`` stream, alphabetically-first on ties, 'und'
    when no language scores a single vote.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    text = F.coalesce(F.col("text"), F.lit(""))
    feat = docs.select(
        "doc_id",
        F.col("lang").alias("lang_stored"),
        F.length(text).alias("n"),
        F.size(F.regexp_extract_all(text, F.lit(_CJK_CLASS), 0)).alias("cjk"),
        alnum_tokens(text).alias("toks"),
    )
    votes = {
        lang: F.size(
            F.filter(F.col("toks"), lambda t: t.isin(*markers))
        ).alias(f"v_{lang}")
        for lang, markers in _marker_lists().items()
    }
    scored = feat.select("doc_id", "lang_stored", "n", "cjk", *votes.values())
    # the argmax cascade is GENERATED from the sorted marker keys, so
    # adding a language to textstats._LANG_MARKERS keeps query, oracle
    # and Python kernel in lockstep (ADVICE r03) — ties resolve to the
    # alphabetically-first language, the same order Python's max() over
    # sorted(votes) scans
    langs = sorted(_marker_lists())
    vote = {lang: F.col(f"v_{lang}") for lang in langs}
    detected = (
        F.when(F.col("n") == 0, "und")
        .when(
            (F.col("cjk") >= 5) | (F.col("cjk") / F.col("n") > 0.05), "zh"
        )
        .when(F.greatest(*vote.values()) == 0, "und")
    )
    for i, lang in enumerate(langs[:-1]):
        cond = F.lit(True)
        for other in langs[i + 1 :]:
            cond = cond & (vote[lang] >= vote[other])
        detected = detected.when(cond, lang)
    detected = detected.otherwise(langs[-1])
    return scored.select(
        "doc_id", detected.alias("lang_detected"), "lang_stored"
    )


def lang_id_oracle() -> str:
    in_lists = {
        lang: ", ".join(f"'{m}'" for m in markers)
        for lang, markers in _marker_lists().items()
    }
    votes = ",\n           ".join(
        f"len(list_filter(toks, t -> t IN ({in_lists[lang]}))) AS v_{lang}"
        for lang in sorted(in_lists)
    )
    # the CASE cascade is generated from the same sorted marker keys as
    # the Spark query's (ADVICE r03: no hardcoded language set that
    # could desynchronize from textstats._LANG_MARKERS)
    langs = sorted(in_lists)
    greatest = ", ".join(f"v_{lang}" for lang in langs)
    arms = "\n                ".join(
        "WHEN "
        + " AND ".join(f"v_{lang} >= v_{o}" for o in langs[i + 1 :])
        + f" THEN '{lang}'"
        for i, lang in enumerate(langs[:-1])
    )
    last = langs[-1]
    return f"""
    WITH feat AS (
      SELECT doc_id, lang AS lang_stored,
             length(coalesce(text, '')) AS n,
             len(regexp_extract_all(coalesce(text, ''), '{_CJK_CLASS}')) AS cjk,
             regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, lang_stored, n, cjk,
           {votes}
      FROM feat
    )
    SELECT doc_id,
           CASE WHEN n = 0 THEN 'und'
                WHEN cjk >= 5 OR cjk*1.0/n > 0.05 THEN 'zh'
                WHEN GREATEST({greatest}) = 0 THEN 'und'
                {arms}
                ELSE '{last}'
           END AS lang_detected,
           lang_stored
    FROM scored
    """
