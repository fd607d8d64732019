"""Corpus curation: the composed training-data cleaning job.

One declarative pass turns a raw documents table into a training-ready
subset — the operation a 100 TB LLM-data pipeline runs before anything
else. Composes the individually-gated operators (language-ID, quality
scoring, exact dedup, MinHash-LSH near-dedup) without forking any of their
logic:

  keep a document iff
    * its language guess matches `lang` (textfns.lang_argmax),
    * its 4dp-rounded quality score >= min_quality (textfns.quality_cols),
    * it is the min-doc_id member of its byte-identical group
      (exact dedup, one window over md5(text)),
    * it never appears as the dropped side (doc_b; pairs always emit
      doc_a < doc_b) of a MinHash-LSH near-duplicate pair
      (dedup.minhash_band_pairs — bucket-capped, never all-pairs).

Scale shape: lang/quality are pure column expressions fused into the scan
projection; exact dedup is ONE shuffle on md5(text); near-dedup is the
bounded LSH pipeline; the final exclusion is a left-anti join on doc_id
(AQE broadcasts the loser set when it is small, which it is by
construction — only near-dup losers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import minhash_band_pairs, shingle_sets
from .textfns import lang_argmax, lang_score_cols, quality_cols, tokens_col


def curate_docs(
    docs: DataFrame,
    lang: str = "en",
    min_quality: float = 0.45,
    text_col: str = "text",
) -> DataFrame:
    """documents -> curated (doc_id, lang_guess, token_count, quality_score)."""
    q = quality_cols(text_col)
    w = Window.partitionBy(F.md5(F.col(text_col)))
    scored = docs.select(
        "doc_id",
        lang_argmax(lang_score_cols(text_col)).alias("lang_guess"),
        q["token_count"].alias("token_count"),
        F.round(q["quality_score"], 4).alias("quality_score"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("__keep_exact"),
    )
    kept = scored.where(
        (F.col("lang_guess") == lang)
        & (F.col("quality_score") >= min_quality)
        & F.col("__keep_exact")
    ).drop("__keep_exact")
    near_losers = (
        minhash_band_pairs(docs, text_col)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return kept.join(near_losers, "doc_id", "left_anti")


# adaptive bucket-depth bounds (VERDICT r4 #4): per-bucket window rows stay
# under _TARGET_BUCKET_ROWS; the offsets frame (16^p rows) stays single-
# window-able under the _MAX_PREFIX_LEN cap. At the 10^12-doc north star,
# p=5 gives ~10^6 buckets of ~10^6 rows — both sides bounded.
_TARGET_BUCKET_ROWS = 4_000_000
_MAX_PREFIX_LEN = 5
_ASSUMED_BYTES_PER_ROW = 512  # deliberate under-estimate: over-counts rows,
# so the derived depth errs toward MORE buckets (the safe side for the
# per-bucket sort; the offsets frame is the cheap side)


def _hash_prefix_len(n_rows_estimate: int) -> int:
    """Smallest hex-prefix length whose 16^p buckets keep the per-bucket
    window under _TARGET_BUCKET_ROWS, capped at _MAX_PREFIX_LEN."""
    p = 1
    while (
        p < _MAX_PREFIX_LEN
        and n_rows_estimate > _TARGET_BUCKET_ROWS * (16 ** p)
    ):
        p += 1
    return p


def _estimated_rows(df: DataFrame) -> int:
    """Metadata-only row estimate: Catalyst's rowCount when the optimizer
    has one, else sizeInBytes / _ASSUMED_BYTES_PER_ROW. Never runs a job —
    the estimate only picks a power-of-16 bucket count, so an order-of-
    magnitude error moves the depth by at most one step."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return max(1, int(rc.get().longValue()))
        return max(1, int(stats.sizeInBytes()) // _ASSUMED_BYTES_PER_ROW)
    except Exception:
        return 1 << 20


def sample_to_token_budget(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    prefix_len: int | None = None,
) -> DataFrame:
    """Deterministic token-budget sample: documents in md5(doc_id) order
    until the cumulative token count exceeds `budget` (the 'give me a 1B-token
    slice of this corpus' op). Output: (doc_id, token_count, cum_tokens) for
    every kept document.

    Scale shape — a DISTRIBUTED prefix sum, never a single-partition window,
    and ONE fully lazy plan (no driver collect, no double scan): the hash
    order is bucketed by its first p hex chars (16^p ordered buckets; prefix
    order == total order for equal-length hex prefixes, so cum_tokens is
    IDENTICAL for every p — regression-pinned); each bucket computes its
    running sum in parallel (window partitioned BY BUCKET); each bucket's
    TOTAL is just max(local_cum) per bucket — derived from the same shuffle,
    so Catalyst plans the exchange once (ReusedExchange); the 16^p-row
    totals frame gets its exclusive prefix sum via a window that only ever
    sees 16^p rows; a broadcast join adds the offsets back. p adapts to a
    metadata-only row estimate (VERDICT r4 #4): fixed 256 buckets would mean
    corpus/256 rows per bucket window at 100 TB; _hash_prefix_len keeps both
    the per-bucket sort and the offsets window bounded (~10^6 rows each at
    10^12 docs). Null doc_ids are dropped up front (md5(NULL) would
    otherwise poison the bucket key)."""
    return with_cum_tokens(docs, text_col, prefix_len).where(
        F.col("cum_tokens") <= budget
    )


def with_cum_tokens(
    docs: DataFrame, text_col: str = "text", prefix_len: int | None = None
) -> DataFrame:
    """(doc_id, token_count, cum_tokens): the corpus-wide running token
    total in md5(doc_id) order — the distributed prefix sum described in
    sample_to_token_budget's docstring, shared by the budget sampler and
    the sequence packer."""
    p = prefix_len if prefix_len is not None else _hash_prefix_len(_estimated_rows(docs))
    toks = quality_cols(text_col)["token_count"]
    h = F.md5(F.col("doc_id").cast("string"))
    t = docs.where(F.col("doc_id").isNotNull()).select(
        "doc_id",
        toks.alias("token_count"),
        h.alias("h"),
        F.substring(h, 1, p).alias("bkt"),
    )
    w = (
        Window.partitionBy("bkt")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = t.select(
        "doc_id",
        "token_count",
        "bkt",
        F.sum("token_count").over(w).alias("local_cum"),
    )
    # bucket totals from the SAME partitioned data (max of the running sum),
    # then an exclusive prefix sum over <= 16^p rows — this small window is
    # the only place a single-partition sort happens, bounded by design
    w_off = (
        Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy("bkt")
        .agg(F.max("local_cum").alias("tot"))
        .select("bkt", F.coalesce(F.sum("tot").over(w_off), F.lit(0)).alias("off"))
    )
    return local.join(F.broadcast(offsets), "bkt").select(
        "doc_id",
        "token_count",
        (F.col("local_cum") + F.col("off")).cast("long").alias("cum_tokens"),
    )


def pack_sequences(
    docs: DataFrame,
    window: int = 2048,
    text_col: str = "text",
    prefix_len: int | None = None,
) -> DataFrame:
    """GPT-style sequence packing: concatenate the corpus token stream in
    deterministic md5(doc_id) order and split it into fixed `window`-token
    training sequences (concat-and-split packing — documents straddle pack
    boundaries instead of leaving padding). Each document emits one row per
    pack it overlaps: (doc_id, pack_id, doc_offset, seg_len), where
    doc_offset is the segment's first token WITHIN the document and the
    per-pack segments tile the pack exactly (sum(seg_len) == window for
    every full pack).

    Scale shape: the global token offset comes from the SAME bounded
    distributed prefix sum as sample_to_token_budget (with_cum_tokens);
    the rest is per-row arithmetic + one explode of ceil(len/window)+1
    rows per doc — no extra shuffle beyond the prefix sum's."""
    c = with_cum_tokens(docs, text_col, prefix_len)
    g0 = (F.col("cum_tokens") - F.col("token_count")).alias("g0")
    first = F.floor(g0 / window).cast("long")
    # token_count >= 1 always (split of '' is ['']), so cum-1 >= g0
    last = F.floor((F.col("cum_tokens") - 1) / window).cast("long")
    e = c.select(
        "doc_id", "token_count", g0, F.explode(F.sequence(first, last)).alias("pack_id")
    )
    seg_begin = F.greatest(F.col("pack_id") * window, F.col("g0"))
    seg_end = F.least(
        (F.col("pack_id") + 1) * window, F.col("g0") + F.col("token_count")
    )
    return e.select(
        "doc_id",
        F.col("pack_id").cast("long").alias("pack_id"),
        (seg_begin - F.col("g0")).cast("long").alias("doc_offset"),
        (seg_end - seg_begin).cast("long").alias("seg_len"),
    )


def sample_systematic(
    docs: DataFrame,
    step: int,
    start: int | None = None,
    text_col: str = "text",
    prefix_len: int | None = None,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling over the
    token stream (Madow 1949 — the survey-sampling PPS workhorse): lay
    the corpus out as the deterministic md5(doc_id)-ordered token line
    (the same distributed prefix sum as sample_to_token_budget), place
    hit points at start, start+step, start+2·step, … and select every
    document whose token interval (cum−len, cum] contains a hit.
    Selection probability is proportional to token_count (capped at 1),
    documents longer than ``step`` are hit multiple times — ``n_hits``
    is the with-replacement multiplicity an unbiased estimator weights
    by. Deterministic: ``start`` defaults to (step+1)//2 (the midpoint
    rule) instead of a random draw.

    Pure integer arithmetic: hits(x) = (x + step − start) div step for
    x ≥ 0 (all operands non-negative, so truncating div == floor div on
    any engine), selected iff hits(cum) > hits(cum − len).

    Scale shape: the prefix sum's cost (see with_cum_tokens) plus one
    per-row projection — no additional shuffle. Output: (doc_id,
    token_count, cum_tokens, n_hits) for selected documents.
    """
    if step < 1:
        raise ValueError("step must be >= 1")
    s0 = (step + 1) // 2 if start is None else int(start)
    if not (1 <= s0 <= step):
        raise ValueError("start must be in [1, step]")
    c = with_cum_tokens(docs, text_col, prefix_len)
    shift = step - s0

    def hits(x):
        return F.expr(f"({x} + {shift}) div {step}")

    n_hits = (
        hits("cum_tokens") - hits("cum_tokens - token_count")
    ).cast("long")
    return c.select(
        "doc_id", "token_count", "cum_tokens", n_hits.alias("n_hits")
    ).where(F.col("n_hits") >= 1)


# weight quantization for sample_temperature: sqrt weights are scaled by
# 2^20 and floored to BIGINT, so every downstream step is integer-exact
# (order-free sums, floor division) — cross-engine bit parity without
# trusting any float summation order. 2^20 keeps ~6 significant digits of
# the weight: a corpus would need >10^6 groups for the quantization to
# move any group's target by a whole document.
_TEMP_WEIGHT_SCALE = 1 << 20


def sample_temperature(
    docs: DataFrame,
    target_total: int,
    group_col: str = "lang",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based domain remixing: downsample each group toward the
    flattened mix p_g ∝ c_g^alpha (alpha = 1/temperature; alpha=1 keeps the
    natural mix, alpha→0 flattens to uniform — the multilingual-corpus
    rebalancing rule from the mBERT/XLM-R recipes). Picks
    n_g = floor(target_total * w_g / Σw) documents from group g, capped at
    the group's size (downsample-only — no replacement), deterministically
    in md5(doc_id) order. Output: (doc_id, <group_col>, smp_rank).

    Exactness: with the default alpha=0.5 the per-group weight is
    sqrt(count) — IEEE-754 sqrt is correctly rounded, so after scaling by
    2^20 and flooring to BIGINT, every weight, the Σw sum, and the
    floor-division target are INTEGER arithmetic — bit-identical on any
    engine regardless of aggregation order. Other alphas use pow(), which
    is not correctly rounded across libms; production-fine, but the exact
    oracle gate runs alpha=0.5.

    Scale shape: one count aggregate on the group key (algebraic), a
    group-cardinality-sized target frame broadcast back, one per-group
    rank window in hash order (the Zipf head can route through
    skew.topk_per_group exactly as sample_stratified does — same window
    spec). No driver data path, no floats in the keep predicate.
    """
    base = docs.where(F.col("doc_id").isNotNull()).select("doc_id", group_col)
    cnt = base.groupBy(group_col).agg(F.count(F.lit(1)).cast("long").alias("c"))
    if alpha == 0.5:
        w_raw = F.sqrt(F.col("c").cast("double"))
    else:
        w_raw = F.pow(F.col("c").cast("double"), F.lit(float(alpha)))
    wts = cnt.select(
        group_col,
        "c",
        F.floor(w_raw * F.lit(float(_TEMP_WEIGHT_SCALE))).cast("long").alias("s"),
    )
    # Σw over the group-cardinality frame: an unpartitioned window over
    # |groups| rows (bounded by design); the sum is BIGINT so aggregation
    # order cannot matter.
    targets = wts.select(
        group_col,
        F.least(
            F.expr(f"CAST({int(target_total)} AS BIGINT) * s DIV sum(s) OVER ()"),
            F.col("c"),
        ).alias("n_target"),
    )
    w_rank = Window.partitionBy(group_col).orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    ranked = base.select(
        "doc_id", group_col, F.row_number().over(w_rank).alias("smp_rank")
    )
    return (
        ranked.join(F.broadcast(targets), group_col)
        .where(F.col("smp_rank") <= F.col("n_target"))
        .select("doc_id", group_col, F.col("smp_rank").cast("long").alias("smp_rank"))
    )


def sample_stratified(
    docs: DataFrame,
    per_group: int = 20,
    group_col: str = "source",
    two_phase: bool = False,
) -> DataFrame:
    """Deterministic stratified sample: at most `per_group` documents per
    group, picked in md5(doc_id) order (a reproducible shuffle — no rand()).
    The domain-mix rebalancing op: a web corpus is dominated by a few huge
    domains, and capping per-source keeps the training mix flat.
    Output: (doc_id, <group_col>, smp_rank).

    Scale shape: one shuffle on the group key; rank is a window per group.
    With two_phase=True the rank runs through skew.topk_per_group — a
    per-partition row_number prunes each input partition to `per_group`
    candidates before the global window, so the Zipf-headed group's reducer
    sorts k × partitions rows instead of the whole domain. Results are
    IDENTICAL (total order: md5 hash + doc_id tiebreak); the extreme-head
    production setting is two_phase=True."""
    base = docs.where(F.col("doc_id").isNotNull()).select("doc_id", group_col)
    order = [
        F.md5(F.col("doc_id").cast("string")).asc(),
        F.col("doc_id").asc(),
    ]
    if two_phase:
        from ..operators.skew import topk_per_group

        return topk_per_group(
            base, [group_col], order, per_group, rank_col="smp_rank"
        ).select("doc_id", group_col, "smp_rank")
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        base.select("doc_id", group_col, F.row_number().over(w).alias("smp_rank"))
        .where(F.col("smp_rank") <= per_group)
    )


def dsir_weights(
    docs: DataFrame,
    target=None,
    n_buckets: int = 1024,
    scale: int = 100000,
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    hashed unigram+bigram bag-of-ngrams features, per-doc importance
    weight = sum over feature occurrences of log(p_target(f)/p_raw(f))
    under add-one-smoothed bucket unigram models. Docs that look like the
    `target` predicate's slice (default: lang = 'en') score high; sampling
    proportional to exp(weight) reweights a raw crawl toward the target
    distribution.

    Returns (doc_id, n_feat, w_q, lr_mean): n_feat = feature occurrences,
    w_q = the quantized weight (sum of per-feature floor(ln(ratio)*scale),
    exact BIGINT — order-free; the ln inputs are BIGINT-product/BIGINT-
    product double divisions, bit-identical cross-engine per the
    text_tfidf_topk precedent), lr_mean = w_q/n_feat/scale rounded 4dp
    (the ONE closed-form double).

    Scale shape: the corpus-sized feature explode is absorbed immediately
    by a (doc_id, f) pre-aggregate pinned ONCE feeding both the global
    bucket counts and the per-doc scoring join; the model side is
    n_buckets rows (broadcast), totals are a 1-row broadcast. Smoothed
    count products stay < 2^53 while corpus token count * n_buckets does
    — at larger scales raise `scale` precision via DECIMAL or split the
    ln into ln(num) - ln(den) only if both engines share it (they do
    not bit-exactly for subtraction order, hence the product form).
    """
    if target is None:
        target = F.col("lang") == "en"
    b = int(n_buckets)
    toks = tokens_col(text_col)
    from ..operators.skew import ensure_parallelism

    # r6: the unigram+bigram explode + one md5 per gram is the whole map
    # cost and the corpus may arrive as ONE parquet split — spread it
    # (guide §2.5)
    base = ensure_parallelism(
        docs.select("doc_id", target.alias("tgt"), F.col(text_col))
    ).select("doc_id", "tgt", toks.alias("ts"))
    uni = base.select("doc_id", "tgt", F.explode("ts").alias("g"))
    bi = base.where(F.size("ts") >= 2).select(
        "doc_id",
        "tgt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("ts", i),
                    F.element_at("ts", (i + F.lit(1)).cast("int")),
                ),
            )
        ).alias("g"),
    )
    feats = uni.unionAll(bi).select(
        "doc_id",
        "tgt",
        (F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long") % b).alias("f"),
    )
    dk = (
        feats.groupBy("doc_id", "tgt", "f")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .localCheckpoint()
    )
    cr = dk.groupBy("f").agg(F.sum("k").cast("long").alias("cr"))
    ct = dk.where(F.col("tgt")).groupBy("f").agg(
        F.sum("k").cast("long").alias("ct")
    )
    tots = dk.agg(
        F.sum("k").cast("long").alias("c_raw"),
        F.sum(F.when(F.col("tgt"), F.col("k")).otherwise(F.lit(0)))
        .cast("long")
        .alias("c_tgt"),
    )
    lr = (
        cr.join(ct, "f", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "f",
            F.floor(
                F.log(
                    ((F.coalesce("ct", F.lit(0)) + F.lit(1)) * (F.col("c_raw") + F.lit(b)))
                    / ((F.col("cr") + F.lit(1)) * (F.col("c_tgt") + F.lit(b)))
                )
                * float(scale)
            )
            .cast("long")
            .alias("lrq"),
        )
    )
    return (
        dk.join(F.broadcast(lr), "f")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_feat"),
            F.sum(F.col("k") * F.col("lrq")).cast("long").alias("w_q"),
        )
        .select(
            "doc_id",
            "n_feat",
            "w_q",
            # + 0.0 normalizes IEEE -0.0 (DuckDB round keeps the sign of a
            # tiny negative mean, Spark does not) — identity elsewhere
            (
                F.round(
                    F.col("w_q").cast("double") / F.col("n_feat") / float(scale), 4
                )
                + F.lit(0.0)
            ).alias("lr_mean"),
        )
    )


def weighted_sample(
    docs: DataFrame, n: int = 100, scale: int = 1000000, text_col: str = "text"
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirtes 2006): each doc draws a uniform U from its md5 hash and gets
    key -ln(U)/w (equivalent to ranking by U^(1/w) descending); the n
    smallest keys are an exact weighted sample without replacement. Weight
    w = token count, so the sample is token-mass-proportional — the
    standard "sample documents proportional to length" remix step, made
    reproducible (same corpus -> same sample, any partitioning, any
    engine).

    U = (h+1)/2^48 in (0, 1] from the 48-bit md5 prefix; the key is
    quantized to BIGINT via floor(ln(2^48/(h+1)) / w * scale) — ln over an
    exact-double/BIGINT division, then one division and one multiply,
    evaluated in the identical operand order cross-engine (the
    text_tfidf_topk ln-parity precedent), with doc_id as the total-order
    tiebreak.

    Scale shape: one narrow projection (hash + token count per doc), then
    a global ORDER BY + LIMIT n — Spark plans TakeOrderedAndProject
    (per-partition top-n, n-row final merge), never a global sort.
    """
    space = float(1 << 48)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    base = docs.select(
        "doc_id",
        F.size(tokens_col(text_col)).cast("long").alias("n_tokens"),
        h.alias("h48"),
    ).where(F.col("n_tokens") >= 1)
    kq = (
        F.floor(
            F.log(F.lit(space) / (F.col("h48") + F.lit(1)))
            / F.col("n_tokens")
            * F.lit(float(scale))
        )
        .cast("long")
        .alias("es_key")
    )
    return (
        base.select("doc_id", "n_tokens", kq)
        .orderBy(F.asc("es_key"), F.asc("doc_id"))
        .limit(n)
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: list[tuple[str, int]] | None = None,
    n_buckets: int = 10,
) -> DataFrame:
    """Deterministic train/val/test assignment: split membership is a pure
    function of the row id (md5 bucket), so the SAME row lands in the SAME
    split on any cluster size, partitioning, input ordering or re-run —
    the property Spark's own randomSplit does NOT have (its sampling is
    evaluated per-partition, so a repartition or an input-file reorder
    silently reshuffles the splits and leaks eval rows into training).

    `splits` is [(name, n_of_buckets)] consuming `n_buckets` in order —
    default [('train', 8), ('val', 1), ('test', 1)] over 10 buckets.
    Adds a `split` column; pure column expression, zero shuffle.
    """
    if splits is None:
        splits = [("train", 8), ("val", 1), ("test", 1)]
    if sum(n for _, n in splits) != n_buckets:
        raise ValueError("split bucket counts must sum to n_buckets")
    b = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
        .cast("long")
        % n_buckets
    )
    expr = None
    lo = 0
    for name, n in splits[:-1]:
        cond = b < lo + n
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += n
    expr = (
        F.lit(splits[0][0]) if expr is None else expr.otherwise(splits[-1][0])
    )
    return df.withColumn("split", expr)


def coverage_select(
    df: DataFrame,
    n_pick: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Greedy facility-location document selection: pick n_pick documents
    that maximize cumulative DISTINCT shingle coverage — the submodular
    data-selection primitive behind coverage-driven corpus curation
    (greedy is (1 - 1/e)-optimal for monotone submodular objectives).
    Fully deterministic: each round's argmax ties break to the smallest
    doc_id.

    Scale shape: the shingle incidence is pinned once; each round is one
    anti-join against the covered-set frame + one count aggregate + a
    TakeOrdered(1) driver probe (the sim_kcenter round pattern — n_pick
    driver rounds, never a driver-side data structure beyond the picks).
    Output: (rank, doc_id, gain, cum_covered).
    """
    # r6 REDESIGN: keep shingles as one ARRAY per document (never explode —
    # the r5 plan materialized the corpus_shingles-row incidence and then
    # anti-joined + re-aggregated all of it per round). The covered set is
    # bounded by n_pick x (shingles of one doc) — a few hundred strings —
    # so it rides the driver exactly like the TakeOrdered(1) pick itself,
    # and each round is ONE pass over the doc-level frame computing
    # gain = size(array_except(shingles, covered_literal)) in codegen.
    # Values identical: |sh(d) \ covered| is the same exact integer the
    # anti-join count produced, same argmax, same smallest-doc_id
    # tie-break, same termination (max gain 0 <=> every candidate fully
    # covered <=> the old cand frame was empty).
    shs = shingle_sets(df, text_col)
    covered: set[str] = set()
    chosen: list[int] = []
    out: list[tuple[int, int, int, int]] = []
    cum = 0
    for r in range(1, n_pick + 1):
        cov_lit = F.array(*[F.lit(s) for s in sorted(covered)])
        gain_col = (
            F.size(F.array_except("shs", cov_lit)) if covered else F.size("shs")
        ).cast("long")
        cand = shs.where(~F.col("doc_id").isin(chosen)) if chosen else shs
        top = (
            cand.select("doc_id", gain_col.alias("gain"))
            .orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if not top or int(top[0]["gain"]) <= 0:
            break
        doc_id, g = int(top[0]["doc_id"]), int(top[0]["gain"])
        cum += g
        out.append((r, doc_id, g, cum))
        chosen.append(doc_id)
        if r == n_pick:
            break  # no further rounds read the covered set
        picked = shs.where(F.col("doc_id") == doc_id).select("shs").collect()
        covered.update(picked[0]["shs"])
    return df.sparkSession.createDataFrame(
        out, "rank int, doc_id long, gain long, cum_covered long"
    )
