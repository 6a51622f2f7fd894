"""Distributed suffix ranking by prefix doubling (Manber-Myers).

The suffix array is the deep machinery behind substring-level dedup
(Lee et al. 2022 §4 builds one over the whole corpus), LRS mining, and
BWT-style compression stats. This implements the corpus-scale primitive:
rank every suffix of every document in global lexicographic order of its
content, by prefix doubling — round k upgrades h-order ranks to 2h-order
ranks using the pair (rank[pos], rank[pos+h]), so O(log maxlen) rounds
total (Manber & Myers 1993), each round = one lead() window + one
class-partitioned rank window. Equal suffixes (across documents) share a rank; a suffix that runs
out inside the horizon takes rank2 = −1, which is exactly "shorter sorts
first" under string order.

No global window anywhere: the initial and final ranks are the
two-level prefix-sum shape shared with operators/ranges.py — per-key
collapse, coarse-bucket subtotals (the only ordered window, over a
relation ~#distinct-keys / 2^coarse_bits — the caller's documented bound,
same contract as balanced_range_buckets), partitioned ranks within coarse
buckets.

Early stop: a round that changes no rank has reached the fixpoint; the
check is one count aggregate (a bounded scalar to the driver, the kNN
round-control posture). Each round's frame is localCheckpoint'ed —
iterative-lineage truncation, the cc.py idiom.

The DuckDB twin is maximally independent: it materializes suffix STRINGS
(substr(text, pos)) and dense-ranks them with a plain ORDER BY — byte-wise
UTF-8 string order, which equals the codepoint order the engine induces
from its initial character ranks (UTF-8 is order-preserving), so the two
derivations share no mechanism at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_rank_scalable(
    df: DataFrame, key: str, out: str = "r", coarse_bits: int = 20
) -> DataFrame:
    """Append a 0-based dense rank of `key` (bigint) without a global
    window: distinct keys -> coarse subtotals (one ordered window over the
    coarse relation) -> partitioned within-bucket ranks -> join back."""
    keys = df.select(F.col(key).alias("_k")).distinct()
    keys = keys.withColumn("_coarse", F.expr(f"_k div {1 << coarse_bits}"))
    sub = keys.groupBy("_coarse").agg(F.count(F.lit(1)).alias("_c"))
    w_off = Window.orderBy("_coarse").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sub = sub.select(
        "_coarse", F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off")
    )
    w_in = Window.partitionBy("_coarse").orderBy("_k")
    ranked = (
        keys.join(sub, "_coarse")
        .select("_k", (F.col("_off") + F.row_number().over(w_in) - 1).alias(out))
    )
    return df.join(ranked, df[key] == ranked["_k"]).drop("_k")


def rank_by_count(
    df: DataFrame, key: str, out: str = "r", coarse_bits: int = 20
) -> DataFrame:
    """Append rank(key) = COUNT OF ROWS with strictly smaller `key`
    (ties share; `RANK() - 1` semantics), without a global window: the
    same two-level prefix-sum shape as dense_rank_scalable, but summing
    multiplicities instead of indexing distinct keys — the initial-rank
    form the prefix-doubling window update needs (see suffix_ranks)."""
    cnts = df.groupBy(F.col(key).alias("_k")).agg(F.count(F.lit(1)).alias("_c"))
    cnts = cnts.withColumn("_coarse", F.expr(f"_k div {1 << coarse_bits}"))
    sub = cnts.groupBy("_coarse").agg(F.sum("_c").alias("_cc"))
    w_off = Window.orderBy("_coarse").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sub = sub.select(
        "_coarse", F.coalesce(F.sum("_cc").over(w_off), F.lit(0)).alias("_off")
    )
    w_in = Window.partitionBy("_coarse").orderBy("_k").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = cnts.join(sub, "_coarse").select(
        "_k",
        (F.col("_off") + F.coalesce(F.sum("_c").over(w_in), F.lit(0))).alias(out),
    )
    return df.join(ranked, df[key] == ranked["_k"]).drop("_k")


def _packed_prefix(width: int, bits: int):
    """Big-endian fixed-width pack of `width` leading codepoints into one
    bigint (suffix chars past end-of-string pack as 0). Numeric order of
    the pack == lexicographic order of the `width`-char prefixes,
    PROVIDED every codepoint < 2^bits: fixed-width big-endian radix, with
    the 0 pad (< any real codepoint) encoding shorter-sorts-first."""
    return F.expr(
        f"aggregate(sequence(0, {width - 1}), 0L, (acc, i) -> "
        f"acc * {1 << bits}L + coalesce(ascii(substring(_t, pos + i, 1)), 0L))"
    )


def suffix_ranks(
    docs: DataFrame, text: str = "text", max_rounds: int = 12
) -> DataFrame:
    """(doc_id, pos, suffix_rank): dense global rank of every suffix by
    content. See module docstring for the round structure.

    Two plan-level accelerations over the textbook loop (both exact, the
    independent string-sort oracle is unchanged):
      - adaptive radix start: the initial ranking keys on a PACKED prefix
        (8 chars x 7 bits for ASCII corpora, 7 x 8 for Latin-1, 2 x 21
        in the general Unicode case), so the doubling ladder starts at
        h = 8 instead of h = 1 — three fewer rounds on the common case;
      - rank[pos + h] comes from lead(rank, h) over (doc_id, pos) —
        positions are dense within a document, so the window is exactly
        the textbook pair lookup without the round's equi-self-join.

    Rounds carry POSITION-COUNT ranks (rank = #positions with strictly
    smaller h-prefix, RANK()-1 semantics) instead of dense ranks. The update is
    then ONE class-partitioned window —
        new_rank = rank + RANK() over (partition by rank order by r2) - 1
    — no per-round distinct, no join-back, no pair packing (count ranks
    are < n and compare directly). Inductive invariant: positions in
    lower classes are exactly the old rank; same-class positions with
    smaller r2 are exactly the window rank; same-class equal-r2 ties
    share, preserving RANK()-1 semantics at 2h. Classes after the width-8
    radix start are small, so the class-partitioned sort is skew-safe on
    real text (the all-one-character corpus degrades to one class — the
    same adversarial case the textbook algorithm has). Fixpoint = a round
    that changes NO rank (exact: an unsplit class can never split later);
    dense ranks are recovered ONCE at the end. Against a per-round
    dense-rank update (pair-packed key + distinct + join-back) this
    measured ~2x on the bench corpus.
    """
    d = docs.select("doc_id", F.col(text).alias("_t")).filter(
        F.length("_t") > 0
    )
    pos_df = d.select(
        "doc_id", "_t",
        F.explode(F.sequence(F.lit(1), F.length("_t"))).alias("pos"),
    )
    # one cheap scan decides the radix width the pack can afford (and the
    # horizon bound: once h >= max_len, ranks are full-suffix ranks and no
    # confirmation round is needed)
    max_code, max_len = pos_df.agg(
        F.max(F.expr("ascii(substring(_t, pos, 1))")),
        F.max(F.length("_t")),
    ).collect()[0]
    if max_code < 128:
        width, bits = 8, 7
    elif max_code < 256:
        width, bits = 7, 8
    else:
        width, bits = 2, 21
    cur = rank_by_count(
        pos_df.select(
            "doc_id", "pos", _packed_prefix(width, bits).alias("code")
        ),
        "code",
        out="rank",
        coarse_bits=44,
    ).select("doc_id", "pos", "rank").localCheckpoint(eager=True)
    h = width
    w = Window.partitionBy("doc_id").orderBy("pos")
    for _ in range(max_rounds):
        if h >= max_len:
            break
        paired = cur.select(
            "doc_id", "pos", F.col("rank").alias("r0"),
            F.coalesce(F.lead("rank", h).over(w), F.lit(-1)).alias("r2"),
        )
        wc = Window.partitionBy("r0").orderBy("r2")
        nxt = (
            paired.select(
                "doc_id", "pos", "r0",
                (F.col("r0") + F.rank().over(wc) - 1).alias("rank"),
            )
            .withColumn("chg", F.col("rank") != F.col("r0"))
            .localCheckpoint(eager=True)
        )
        cur = nxt.select("doc_id", "pos", "rank")
        h *= 2
        if h >= max_len:
            break  # next iteration exits anyway — skip the chg count
        if nxt.filter("chg").count() == 0:
            break
    else:
        raise RuntimeError("suffix_ranks: max_rounds exhausted")
    return dense_rank_scalable(
        cur, "rank", out="suffix_rank", coarse_bits=16
    ).select("doc_id", "pos", "suffix_rank")


def lcp_adjacent(
    ranks: DataFrame,
    docs: DataFrame,
    text: str = "text",
    horizon: int = 64,
    min_lcp: int = 8,
) -> DataFrame:
    """Bounded-horizon LCP array over the suffix ranking — the repeated-
    substring miner (an LCP ≥ t at adjacent ranks means a t-char substring
    occurs at both suffixes; the max over the array is the corpus LRS).

    Per dense rank, the representative suffix is the (min doc_id, min pos)
    holder — well-defined because equal ranks are equal strings. Adjacent
    ranks pair by the EQUI-join rank+1 = rank (ranks are dense), never a
    global sort. The LCP is computed on `horizon`-char prefixes with the
    prefix-monotonicity trick: equality of the first i chars is monotone
    in i, so lcp = count of i ∈ [1, horizon] with prefix_i(a) = prefix_i(b)
    — one codegen filter/size over a sequence, no loops, identical
    expression shape in the DuckDB twin.

    Returns (rank, lcp, doc_a, pos_a, doc_b, pos_b) for lcp ≥ min_lcp.
    """
    reps = (
        ranks.groupBy("suffix_rank")
        .agg(F.min(F.struct("doc_id", "pos")).alias("rep"))
        .select(
            "suffix_rank",
            F.col("rep.doc_id").alias("doc_id"),
            F.col("rep.pos").alias("pos"),
        )
    )
    d = docs.select(
        F.col("doc_id").alias("_d"), F.col(text).alias("_t")
    )
    withp = reps.join(d, reps["doc_id"] == d["_d"]).select(
        "suffix_rank", "doc_id", "pos",
        F.expr(f"substring(_t, pos, {horizon})").alias("pre"),
    )
    a = withp.select(
        F.col("suffix_rank").alias("rank"),
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"),
        F.col("pre").alias("pre_a"),
    )
    b = withp.select(
        (F.col("suffix_rank")).alias("rank_b"),
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"),
        F.col("pre").alias("pre_b"),
    )
    j = a.join(b, a["rank"] + 1 == b["rank_b"])
    lcp = F.size(
        F.expr(
            f"filter(sequence(1, {horizon}), i -> "
            "substring(pre_a, 1, i) = substring(pre_b, 1, i))"
        )
    )
    return (
        j.select("rank", lcp.alias("lcp"), "doc_a", "pos_a", "doc_b", "pos_b")
        .filter(F.col("lcp") >= min_lcp)
    )
