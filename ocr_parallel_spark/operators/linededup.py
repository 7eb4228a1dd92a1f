"""Inter-document line deduplication (CCNet-style boilerplate removal).

A line that appears in many documents is boilerplate (cookie banners,
nav menus, footers), not content; CCNet drops lines whose corpus-wide
frequency crosses a threshold. Generalizes the reference's exact
request-key dedup (D1/D2, app/services/batch_processor.py:116-140) from
document granularity to line granularity — keep-FIRST becomes
keep-if-rare.

Scale shape (the whole point at 100 TB): the lines lineage is read
TWICE — once to build the line-frequency table (a distinct-doc count
keyed on the line hash), once for the join-back + per-doc
re-aggregation. That double read is deliberate: columnar re-scan of the
source is cheaper than shuffling full line bodies through a
corpus-sized window exchange (the one-shuffle alternative), and both
count exchanges carry 32-byte hashes only. Callers whose upstream
lineage is expensive (not a plain scan) should persist/localCheckpoint
the lines DataFrame before calling. The frequency table itself is the
corpus's distinct-line set — orders of magnitude smaller than the
corpus. No driver collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_lines(
    lines: DataFrame,
    min_count: int = 5,
    id_col: str = "doc_id",
    line_no_col: str = "line_no",
    line_col: str = "line",
    cms_width: int = 0,
    cms_depth: int = 4,
) -> DataFrame:
    """Drop every line appearing in >= ``min_count`` DISTINCT documents
    corpus-wide; reassemble each document from its surviving lines in
    order. (Distinct-doc counting is the CCNet semantics: a single
    spammy doc repeating one line five times internally must NOT turn
    that line into corpus boilerplate — intra-doc repetition is
    repetition_signals' business, not this operator's.)

    Input: one row per (doc, line_no, line). Output: one row per doc —
    n_lines, n_kept (both bigint), kept_text (newline-joined survivors;
    '' when everything was boilerplate, so no document vanishes). A NULL
    line is a placeholder that keeps a doc without lines in the output
    (n_lines 0, n_kept 0, kept_text ''): it is never counted or kept.

    The join key is sha2(line) rather than the line text: frequency
    counting and the join-back then shuffle 32-byte keys instead of
    arbitrarily long line bodies (the line text itself stays on the
    lines side and never crosses the count exchange).

    ``cms_width`` > 0 turns on the Count-Min PREFILTER (functions/
    cms.py): a bounded depth x width grid over the line-key multiset is
    built first (map-combinable, cells shuffle — never occurrences),
    and only occurrences whose estimate reaches ``min_count`` enter the
    exact distinct-doc count. Because a CMS never undercounts and
    distinct-doc count <= occurrence count <= estimate, a filtered-out
    line provably sits below the threshold — results are IDENTICAL to
    the exact path (the ``line_dedup_cms`` oracle pins them against the
    plain line_dedup SQL), but the distinct-count exchange now carries
    only boilerplate-candidate rows. At crawl scale that is the whole
    game: almost every line is a singleton, and the exact path shuffles
    each one just to prove it; size the grid at roughly the expected
    heavy-hitter count x e per row.
    """
    key = F.sha2(F.col(line_col), 256).alias("_line_key")
    keyed = lines.select(id_col, line_no_col, line_col, key)
    count_src = keyed.filter(F.col(line_col).isNotNull())
    if cms_width:
        from ocr_parallel_spark.functions.cms import cms_build, cms_estimate

        grid = cms_build(
            count_src.select("_line_key"), "_line_key", cms_width, cms_depth
        )
        count_src = cms_estimate(
            count_src, "_line_key", grid, cms_width, cms_depth, "_cms_est"
        ).filter(F.col("_cms_est") >= min_count)
    freq = count_src.groupBy("_line_key").agg(
        F.count_distinct(F.col(id_col)).alias("_line_docs")
    )
    # left join + coalesce-0: under the prefilter, sub-threshold lines
    # are absent from freq BY PROOF (est < min_count); without it the
    # join is effectively inner for every non-NULL line (every such key
    # counted) — same results.
    kept = F.col(line_col).isNotNull() & (
        F.coalesce(F.col("_line_docs"), F.lit(0)) < min_count
    )
    return (
        keyed.join(freq, "_line_key", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.col(line_col)).alias("n_lines"),
            F.count(F.when(kept, F.lit(1))).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                kept, F.struct(F.col(line_no_col), F.col(line_col))
                            )
                        )
                    ),
                    lambda s: s[line_col],
                ),
                "\n",
            ).alias("kept_text"),
        )
    )
