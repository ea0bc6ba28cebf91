"""Substring dedup: exact long-match detection across documents.

North-rule stage (BASELINE.json: "suffix-array substring-dedup stage for
exact long-match removal"). Spark-first design instead of a monolithic
suffix array:

  1. **Anchor selection** — every document emits rolling k-char window
     hashes at winnowing-sampled positions (keep a window iff
     ``xxhash64(window) % sample == 0``): a deterministic ~1/sample subset
     whose selection is content-defined, so two documents sharing a long
     run select the *same* anchors inside it regardless of offset. Native
     Spark (explode of window positions, then substring + xxhash64 as
     codegen'd projections) — no UDF, no shuffle.
  2. **Inverted index** — shuffle on anchor hash; anchors present in more
     than a df-cap of documents are dropped (boilerplate guard, same skew
     policy as LSH bucket capping in operators/lsh.py). The dropped anchors
     are not counted.
  3. **Pair + span merge** — documents sharing ≥ ``min_anchors`` anchors
     become candidate pairs; consecutive shared anchors whose position
     deltas agree merge into match spans; spans ≥ ``min_len`` are reported.

This is the distributed equivalent of suffix-array long-match mining: a
true suffix array finds matches ≥ L exactly; content-defined k-gram
anchors at sampling s find any match of length ≥ L with probability
≥ 1 − (1−1/s)^(L−k+1) — with defaults (k=24, s=4, min_len=64) that is
> 0.9999. Each anchor is pinned by 64-bit window-hash equality; a span
between co-linear anchors (identical position delta) is reported as a
lower-bound match length. Scope control at 100 TB: feed only candidate
clusters into ``docs`` rather than the full corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_K = 24          # anchor window chars
DEFAULT_SAMPLE = 4      # keep ~1/4 of windows (content-defined)
DEFAULT_MIN_LEN = 64    # report matches at least this long
DEFAULT_DF_CAP = 64     # drop anchors appearing in more docs than this


def anchor_table(
    docs: DataFrame,
    k: int = DEFAULT_K,
    sample: int = DEFAULT_SAMPLE,
    id_col: str = "doc_id",
    text_col: str = "text",
    anchor: str = "xxh64",
) -> DataFrame:
    """(doc_id, pos, anchor_hash) — winnowed k-gram anchors, all native SQL.

    ``anchor``: window-hash function. "xxh64" (default — fastest, Spark
    native) keeps a window iff ``xxhash64(window) % sample == 0``; "md5"
    (cross-engine: DuckDB computes the identical hash, so the whole stage is
    oracle-checkable) keeps a window iff its last md5 hex nibble ≡ 0 mod
    ``sample`` (sample must divide 16). Identical selection density and
    content-defined behavior either way.
    """
    norm = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(norm)
    positions = F.when(
        n >= k, F.sequence(F.lit(1), n - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    # explode positions FIRST, then hash + filter as ordinary projections:
    # the former transform/filter higher-order formulation evaluated its
    # lambda (substring + hash) interpreted per window position — the
    # documented 10× HOF trap (CLAUDE.md) at ~n positions per document.
    # explode → substr → hash → filter pipelines inside one
    # whole-stage-codegen span with no shuffle; row set is identical.
    window = F.col("_t").substr(F.col("pos"), F.lit(k))
    if anchor == "xxh64":
        hash_col = F.xxhash64(window)
        keep = F.pmod(F.col("anchor_hash"), F.lit(sample)) == 0
    elif anchor == "md5":
        if 16 % sample:
            raise ValueError("md5 anchor sampling requires sample | 16")
        nibbles = [format(v, "x") for v in range(16) if v % sample == 0]
        hash_col = F.md5(window)
        keep = F.substring(F.col("anchor_hash"), 32, 1).isin(nibbles)
    else:
        raise ValueError(f"unknown anchor hash: {anchor}")
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            norm.alias("_t"),
            F.explode(positions).alias("pos"),
        )
        .select("doc_id", "pos", hash_col.alias("anchor_hash"))
        .where(keep)
    )


def substring_matches(
    docs: DataFrame,
    k: int = DEFAULT_K,
    sample: int = DEFAULT_SAMPLE,
    min_len: int = DEFAULT_MIN_LEN,
    df_cap: int = DEFAULT_DF_CAP,
    min_anchors: int = 2,
    anchor: str = "xxh64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document exact long-match spans.

    Returns (doc_a, doc_b, a_start, b_start, match_len_lb) where
    match_len_lb is the *verified lower bound* on the shared-substring
    length (span between first and last co-linear shared anchors + k).
    """
    # materialize the anchor table once: the df-count aggregate and BOTH
    # self-join sides consume it, and the lazy subtree re-ran the full
    # anchor scan once per consumer (4 Generate nodes in the r07 before-
    # plan; 8 in substring_cut's). Same multiply-consumed-subtree rule as
    # lsh.dup_pairs' slim table; at warehouse scale this is a staged table.
    anchors = anchor_table(
        docs, k, sample, id_col, text_col, anchor
    ).localCheckpoint(eager=True)
    # skew guard: drop anchors present in too many docs (boilerplate)
    df_counts = anchors.groupBy("anchor_hash").agg(
        F.count_distinct("doc_id").alias("df")
    )
    anchors = anchors.join(
        df_counts.where(F.col("df") <= df_cap).select("anchor_hash"), "anchor_hash"
    )
    a = anchors.select(
        "anchor_hash", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a")
    )
    b = anchors.select(
        "anchor_hash", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    shared = a.join(b, "anchor_hash").where(F.col("doc_a") < F.col("doc_b"))
    # co-linear anchors share the same offset delta (pos_a - pos_b): group by
    # (pair, delta) and take the span between first and last shared anchor.
    runs = (
        shared.groupBy("doc_a", "doc_b", (F.col("pos_a") - F.col("pos_b")).alias("delta"))
        .agg(
            F.count("*").alias("n_anchors"),
            F.min("pos_a").alias("a_start"),
            F.min("pos_b").alias("b_start"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(k)).alias("match_len_lb"),
        )
        .where(
            (F.col("n_anchors") >= min_anchors)
            & (F.col("match_len_lb") >= min_len)
        )
    )
    return runs.select(
        "doc_a", "doc_b", "a_start", "b_start", "n_anchors", "match_len_lb"
    )


def substring_cut(
    docs: DataFrame,
    matches: DataFrame | None = None,
    k: int = DEFAULT_K,
    sample: int = DEFAULT_SAMPLE,
    min_len: int = DEFAULT_MIN_LEN,
    df_cap: int = DEFAULT_DF_CAP,
    min_anchors: int = 2,
    anchor: str = "xxh64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact long-match REMOVAL (the north rule's substring-dedup stage).

    Keep-first policy (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): for every verified match span the document
    with the LOWER id keeps its copy; the higher-id document's span
    ``[b_start, b_start + match_len_lb)`` is cut. Overlapping / touching
    cut spans within a document are interval-merged before cutting, so a
    document matched by several earlier documents loses each region once.

    Returns one row per input document:
    ``(doc_id, n_spans_cut, chars_cut, clean_len, clean_text)`` —
    untouched documents pass through with zero counters.

    Scale shape: the span table is tiny relative to the corpus (only
    matched documents appear); interval merge is a Window over doc_id —
    bounded partitions (spans per doc ≤ matches per doc). Text is joined
    ONCE per document and reassembled with a single aggregate over the
    per-doc merged-span array (small array → the interpreted-HOF cost the
    repo documents for hot per-element paths does not apply here).
    """
    if matches is None:
        matches = substring_matches(
            docs, k, sample, min_len, df_cap, min_anchors, anchor,
            id_col, text_col,
        )
    spans = matches.select(
        F.col("doc_b").alias("doc_id"),
        F.col("b_start").alias("start"),
        (F.col("b_start") + F.col("match_len_lb")).alias("end"),
    )
    # interval merge (gaps-and-islands): a span starts a new island iff it
    # begins after every previous span's end (end is exclusive, so touching
    # spans — start == prev_end — merge too).
    w = Window.partitionBy("doc_id").orderBy("start", "end")
    prev_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = spans.withColumn(
        "new_island", (F.col("start") > F.coalesce(prev_end, F.lit(0))).cast("int")
    ).withColumn("island", F.sum("new_island").over(w))
    merged = islands.groupBy("doc_id", "island").agg(
        F.min("start").alias("start"), F.max("end").alias("end")
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("start", "end"))).alias("spans"),
        F.count("*").alias("n_spans_cut"),
        F.sum(F.col("end") - F.col("start")).alias("chars_cut"),
    )
    txt = F.coalesce(F.col(text_col), F.lit(""))
    # cut: walk the sorted spans once, emitting the text between cursor and
    # each span start, then the tail from the last span's end.
    pieces = F.aggregate(
        F.col("spans"),
        F.struct(F.lit(1).cast("long").alias("cur"), F.lit("").alias("acc")),
        lambda s, sp: F.struct(
            sp["end"].cast("long").alias("cur"),
            F.concat(
                s["acc"], txt.substr(s["cur"], sp["start"].cast("long") - s["cur"])
            ).alias("acc"),
        ),
        lambda s: F.concat(
            s["acc"], txt.substr(s["cur"], F.length(txt).cast("long") - s["cur"] + 1)
        ),
    )
    out = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)).join(
        per_doc, "doc_id", "left"
    )
    clean = F.when(F.col("spans").isNull(), txt).otherwise(pieces)
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_spans_cut"), F.lit(0)).cast("long").alias("n_spans_cut"),
        F.coalesce(F.col("chars_cut"), F.lit(0)).cast("long").alias("chars_cut"),
        F.length(clean).cast("long").alias("clean_len"),
        clean.alias("clean_text"),
    )
