"""Streaming-tier corpus curation.

The two-tier design (same split as extraction ingest, incremental.py):
every PER-DOCUMENT curation signal — language ID, token counts, PII
detection, encoding quality, domain blocklist — is a stateless
projection or a stream-static broadcast join, so it runs identically in
a micro-batch as in batch; corpus-GLOBAL signals (inter-doc line
frequencies, exact/near dup ranking, decontamination gram sets) need a
global view and stay in the batch compaction tier over the committed
table. A crawl drip therefore gets its cheap screens applied on ingest
(drop-early saves the 100 TB of downstream shuffle), and the batch pass
arbitrates everything that requires seeing the whole corpus.

The blocklist side of the stream-static join is a plain static
DataFrame, re-broadcast per micro-batch. NOTE: re-planning does NOT
refresh its contents — a createDataFrame blocklist is fixed at
creation, and a file-backed one caches its file index — so a blocklist
update requires restarting the query (or rebuilding the static
DataFrame between availableNow drains, the pattern the resume test
uses). Cheap either way: there is no state to migrate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ocr_parallel_spark.functions.curation import (
    DOC_THRESHOLDS,
    Screen,
    fold_screens,
    pii_counts,
    threshold_screen,
)
from ocr_parallel_spark.functions.text_quality import (
    detect_lang_from_hits,
    with_lang_hits,
)
from ocr_parallel_spark.functions.urls import host_col
from ocr_parallel_spark.operators.classify import normalize_col

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
    ]
)


def read_docs_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )


def doc_signals(docs: DataFrame) -> DataFrame:
    """The per-document curation signals as one stateless projection:
    ``(doc_id, host, pred_lang, n_tokens, n_pii)``."""
    d, hits = with_lang_hits(docs.withColumn("norm", normalize_col("text")))
    counts = pii_counts(F.col("norm"))
    return d.select(
        "doc_id",
        host_col(F.col("url")).alias("host"),
        detect_lang_from_hits(hits).alias("pred_lang"),
        F.size(F.col("_toks")).alias("n_tokens"),
        (counts["email"] + counts["phone"] + counts["ip"]).alias("n_pii"),
    )


def doc_screens(blocked_hosts: DataFrame) -> list[Screen]:
    """The per-document screens over ``doc_signals``, in verdict order:
    the domain blocklist, then ``DOC_THRESHOLDS``.

    ``blocked_hosts``: static DataFrame with a ``host`` column."""
    blocked = F.broadcast(
        # distinct AFTER lowercasing: caller rows that collide once
        # lowered ('Example.com' + 'example.com') would otherwise fan
        # every doc on that host into duplicate verdict rows through
        # the left join
        blocked_hosts.select(F.lower(F.col("host")).alias("host"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return [
        ("blocked", lambda d: d.join(blocked, "host", "left")),
        *(threshold_screen(r) for r in DOC_THRESHOLDS),
    ]


def curate_docs(docs: DataFrame, blocked_hosts: DataFrame) -> DataFrame:
    """The streaming-safe curation verdict: ``doc_screens`` folded over
    ``doc_signals``. Works on a streaming OR batch ``docs`` DataFrame
    unchanged (the equivalence is pinned by test_streaming_curation) —
    one definition, two tiers."""
    d = fold_screens(doc_signals(docs), doc_screens(blocked_hosts))
    return d.select(
        "doc_id",
        "host",
        "pred_lang",
        "n_tokens",
        "n_pii",
        F.col("drop_reason").isNull().alias("kept"),
        "drop_reason",
    )


def run_curation_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    blocked_hosts: DataFrame,
):
    """Drain all pending doc files through the curation screen and stop
    (availableNow); re-runs process only new files via the checkpoint's
    file-source log."""
    from ocr_parallel_spark.streaming.sink import drain_available_now

    out = curate_docs(read_docs_stream(spark, input_dir), blocked_hosts)
    return drain_available_now(out, output_dir, checkpoint_dir)


def quality_screen_docs(docs: DataFrame, weights: dict[int, int]) -> DataFrame:
    """The TRAINED quality screen at the streaming tier: per-doc
    ternary-vote score as a pure projection
    (functions/curation.py vote_score_expr — vote map literal +
    transform/aggregate over the token array; no explode, no groupBy,
    no state), so the same definition screens a micro-batch and a
    batch identically. ``weights``: the {bucket: vote} dict from a
    collected train_quality_weights result — tiny by construction
    (only discriminative buckets survive the margin+support rule).
    Pinned equal to the batch trained_quality_scores in
    test_streaming_curation."""
    from ocr_parallel_spark.functions.curation import vote_score_expr

    score = vote_score_expr(normalize_col("text"), weights)
    return docs.select(
        "doc_id",
        score.alias("score"),
        (score > 0).alias("low_quality"),
    )


def lm_screen_docs(
    docs: DataFrame,
    model: dict[str, int],
    max_x16: int,
    unseen: int | None = None,
) -> DataFrame:
    """The CCNet-style LM surprise screen at the streaming tier.

    A trigram model is too big for the vote-map-literal trick (even
    pruned it holds thousands of grams, and create_map literals bloat
    the plan), so this takes the bpe_token_counts deployment shape
    instead: normalize with the SAME Spark expression the batch path
    uses, then score each doc in ONE stateless Arrow pass with the
    pruned model riding the task closure (collectible by the min_count
    prune contract — functions/lm.py model_to_dict). No explode, no
    groupBy, no state: a micro-batch screens exactly like a batch,
    pinned equal to the batch doc_surprise in pytest.

    ``high_surprise`` is False for unscorable docs (< 3 tokens, NULL
    average) — brevity is not evidence of gibberish, same contract as
    job_curate's batch screen."""
    from collections.abc import Iterator

    import pandas as pd

    from ocr_parallel_spark.functions.lm import LM_UNSEEN_BITS

    oov = LM_UNSEEN_BITS if unseen is None else unseen

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n_grams, sums, avgs = [], [], []
            for norm in pdf["norm"]:
                toks = (norm if isinstance(norm, str) else "").split(" ")
                n = len(toks)
                if n < 3:
                    n_grams.append(0)
                    sums.append(0)
                    avgs.append(None)
                    continue
                s = 0
                for i in range(n - 2):
                    s += model.get(
                        toks[i] + " " + toks[i + 1] + " " + toks[i + 2], oov
                    )
                n_grams.append(n - 2)
                sums.append(s)
                avgs.append((16 * s) // (n - 2))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_grams": pd.array(n_grams, dtype="Int64"),
                    "sum_surprise": pd.array(sums, dtype="Int64"),
                    # Int64 (not int64): unscorable docs carry a real
                    # NULL, never a NaN-poisoned float column.
                    "surprise_x16": pd.array(avgs, dtype="Int64"),
                }
            )

    normed = docs.select("doc_id", normalize_col("text").alias("norm"))
    scored = normed.mapInPandas(
        score,
        "doc_id bigint, n_grams bigint, sum_surprise bigint, "
        "surprise_x16 bigint",
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "sum_surprise",
        "surprise_x16",
        F.coalesce(
            F.col("surprise_x16") > max_x16, F.lit(False)
        ).alias("high_surprise"),
    )
