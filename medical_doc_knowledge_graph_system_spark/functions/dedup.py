"""Deduplication operators over a documents table.

Each is a composition of built-in Catalyst expressions (no Python UDFs) with
an exact SQL oracle: exact hash-dedup, MinHash+LSH banding, SimHash, n-gram
Jaccard verification on blocked candidate pairs, and embedding-cosine
near-dup (in functions/simsearch.py).

Scale notes (100 TB design point):
  * exact dedup: one shuffle on md5(text) — trivially scalable.
  * minhash: shingle explode is map-side; the signature groupBy shuffles on
    doc_id (already unique → no skew); band self-join shuffles on band key —
    bucket sizes bounded by band width, AQE splits stragglers.
  * jaccard verify runs ONLY on LSH candidate pairs, never all-pairs.

Blocking rule. The rare-shingle family (ngram_jaccard_pairs,
containment_pairs, shingle_overlap_edges and lcs_run_pairs on top of it,
graph_analytics.butterflies) finds candidates only through shared RARE
shingles, never all pairs: a shingle blocks when its document frequency
lies in [2, MAX_SHINGLE_DF] (block purging, SparkER). A df-1 shingle forms
no pair, and a frequent one would fan its bucket out quadratically. Each
operator reads the doc-level shingle arrays from one pin (shingle_sets;
lcs_run_pairs distincts them from its positional-gram pin) and counts
shared rare shingles per pair with one engine (rare_pairs); the window is
a module constant read at call time, not a parameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import pin_rows
from .textfns import tokens_col

MINHASH_SEEDS = 8
SHINGLE_N = 3

# Band-bucket size above which the LSH self-join switches from all-pairs to a
# star (band-min doc -> every other doc in the bucket). A Common-Crawl
# boilerplate cluster of 10^6 near-identical pages shares every band; full
# pairwise there is O(10^12) pairs, the star is O(10^6) and keeps the bucket
# connected for the transitive-closure/connected-components consumer. Same
# rule in the DuckDB oracle (parity by construction). Mirrors the
# MAX_LSH_BUCKET fix in corelib/similarity.py:44 (resolution's band join hit
# the identical blow-up on template-heavy names, BENCH.md).
MAX_DEDUP_BUCKET = 100

# prefix_filter_pairs dense path: above this many DISTINCT token sets the
# bounded S x S bitmask comparison (S^2 single-long bit ops, ~2 ns each) is
# no longer obviously cheaper than the lossless prefix-filter candidate join,
# so the general path takes over. 2^16 sets = 4.3e9 bit ops, well under a
# second per core spread across the executors.
DENSE_SETS_MAX = 1 << 16

# Rare-shingle blocking window: a shingle joins the candidate self-join when
# 2 <= df <= MAX_SHINGLE_DF, which caps every bucket at C(50, 2) pairs. The
# oracles of the rare-shingle gates hard-code the same 50.
MAX_SHINGLE_DF = 50


def exact_dup_flags_expr(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc exact-dup flag: (doc_id, text_hash, is_dup) via a window count
    over md5(text) — the exact-hash dedup primitive."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col)))
    return df.select(
        "doc_id",
        F.md5(F.col(text_col)).alias("text_hash"),
        (F.count(F.lit(1)).over(w) > 1).alias("is_dup"),
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n_docs, doc_ids)."""
    return (
        df.select("doc_id", F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def shingles_col(text_col: str = "text", n: int = SHINGLE_N):
    """Distinct word n-gram shingles as array<string> (token-based). Keeps
    one partial shingle for sub-n docs so the MinHash set is never empty;
    textfns._ngrams_col is the ordered-multiset/full-window sibling — the
    policies differ on purpose, don't merge them."""

    return F.array_distinct(grams_col(text_col, n))


def grams_col(text_col: str = "text", n: int = SHINGLE_N):
    """Every positional word n-gram as array<string>, in token order: gram i
    starts at token i. A sub-n doc keeps its one partial gram."""

    # A lambda body re-evaluates every outer expression it references once
    # per element, so slicing tokens_col(...) inside it would re-split the
    # text once per gram. The one-element transform binds the split token
    # array to `toks` once per doc: minhash_signatures on 3,000 docs went
    # 0.95 -> 0.60 s (4 cores), same shingles.
    def grams(toks):
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))

    return F.transform(F.array(tokens_col(text_col)), grams)[0]


def doc_shingles(df: DataFrame, text_col: str = "text", n: int = SHINGLE_N) -> DataFrame:
    # the shingle explode + k×md5 downstream is the CPU-heavy map stage;
    # spread narrow inputs (single-row-group parquet scans come in as one
    # split) across the cluster first — a no-op on many-split corpora
    from ..operators.skew import ensure_parallelism

    df = ensure_parallelism(df.select("doc_id", text_col))
    return df.select("doc_id", F.explode(shingles_col(text_col, n)).alias("shingle"))


def shingle_sets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pinned (doc_id, shs) frame: each document's distinct shingles as one
    array. Pinning the arrays rather than the exploded incidence keeps the
    same bytes in ~50x fewer row objects (materialization cost is per row);
    consumers explode from the pin in-task and read |S(d)| as size(shs)."""
    from ..operators.skew import ensure_parallelism

    return (
        ensure_parallelism(df.select("doc_id", F.col(text_col)))
        .select("doc_id", shingles_col(text_col).alias("shs"))
        .localCheckpoint()
    )


def rare_pairs(incid: DataFrame) -> DataFrame:
    """(a, b, n) with a < b: document pairs of a (doc_id, shingle) incidence
    and the number n >= 1 of rare shingles they share (the blocking rule in
    the module docstring). The df aggregate and the filter join read
    ``incid`` twice, so callers pass a pinned or cheaply derived frame; the
    filtered side is pinned because it feeds both halves of the self-join.
    """
    rare = (
        incid.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_"))
        .where(F.col("df_").between(2, MAX_SHINGLE_DF))
        .select("shingle")
    )
    ir = incid.join(rare, "shingle").localCheckpoint()
    l = ir.select(F.col("doc_id").alias("a"), "shingle")
    r = ir.select(F.col("doc_id").alias("b"), "shingle")
    return (
        l.join(r, ["shingle"])
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _sized_overlaps(df: DataFrame, text_col: str) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b): rare_pairs over the shingle sets
    with both set sizes attached — the step the Jaccard and containment
    verifiers share."""
    arr = shingle_sets(df, text_col)
    sizes = arr.select("doc_id", F.size("shs").cast("long").alias("n_sh"))
    return (
        rare_pairs(arr.select("doc_id", F.explode("shs").alias("shingle")))
        .join(sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b")), "b")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.col("n").alias("n_inter"),
            "n_a",
            "n_b",
        )
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", k: int = MINHASH_SEEDS,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): min over shingles of md5(seed||shingle).

    md5 hex-string min == lexicographic min — identical in DuckDB, so the
    signature is exactly oracle-able. ``shingles`` lets a composed pipeline
    (neardup_clusters) pass a pinned (doc_id, shingle) frame so signature
    and verify stages share ONE corpus scan.
    """
    sh = shingles if shingles is not None else doc_shingles(df, text_col)
    # Hash every shingle occurrence inside the doc_id aggregate: the md5s
    # run in the map-side partial aggregate, fused with the shingle explode,
    # so the plan is one scan, one Generate and one shuffle. A distinct-
    # shingle hash dimension (k md5s per distinct shingle, joined back) saves
    # hashes only on paper: it runs the explode twice, AQE coalesces the
    # distinct shingles to one partition so every md5 lands in one task, and
    # it adds two shuffles. Measured at sf0.1 on 4 cores: dedup_minhash_pairs
    # 4.1 -> 2.0 s warm, same signatures.
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh_{i}")
            for i in range(k)
        ]
    )


def minhash_band_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = MINHASH_SEEDS,
    band_rows: int = 2,
    max_bucket: int = MAX_DEDUP_BUCKET,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b) sharing any minhash band.

    Buckets with <= max_bucket members produce full pairwise candidates;
    larger buckets produce a star centered on the bucket's min doc_id
    (k-1 pairs instead of k^2/2) so a boilerplate mega-cluster can't blow up
    the self-join — cluster membership is still recoverable by transitive
    closure over the star edges.
    """
    sigs = minhash_signatures(df, text_col, k, shingles=shingles)
    bands = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                *[F.col(f"mh_{b * band_rows + r}") for r in range(band_rows)],
            )
            for b in range(k // band_rows)
        ]
    )
    banded = sigs.select("doc_id", F.explode(bands).alias("band"))
    stats = banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("bkt_n"), F.min("doc_id").alias("bkt_min")
    )
    # one shuffle on band; the stats join is co-partitioned with the self-join.
    # Materialize: tagged is referenced 3x (pairwise self-join l/r + star) and
    # Catalyst reuses nothing across the branches — without this the whole
    # shingle->signature pipeline recomputes per reference (6 corpus scans).
    # tagged is O(docs x bands) narrow rows, the same bytes its own shuffle
    # already moved — linear, spill-backed, never a blow-up.
    tagged = banded.join(stats, "band").localCheckpoint()
    small = tagged.where(F.col("bkt_n") <= max_bucket).select("band", "doc_id")
    l, r = small.alias("l"), small.alias("r")
    pairs_small = l.join(
        r, (F.col("l.band") == F.col("r.band")) & (F.col("l.doc_id") < F.col("r.doc_id"))
    ).select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
    pairs_star = (
        tagged.where((F.col("bkt_n") > max_bucket) & (F.col("doc_id") != F.col("bkt_min")))
        .select(F.col("bkt_min").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return pairs_small.union(pairs_star).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard, blocked on shared rare
    shingles (the blocking rule in the module docstring: the df cap bounds
    bucket fan-out; the frequent-shingle tail contributes candidates
    through its rarer neighbors). Output: (doc_a, doc_b, jaccard rounded
    4dp).
    """
    jac = F.round(
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
    )
    return (
        _sized_overlaps(df, text_col)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def shingle_overlap_edges(
    df: DataFrame,
    text_col: str = "text",
    min_shared: int = 3,
) -> DataFrame:
    """Document-similarity graph: undirected edges (a, b) between doc pairs
    sharing >= min_shared rare shingles (a < b, one row per pair). This is
    ngram_jaccard_pairs' blocking stage promoted to a graph constructor —
    the candidate graph a curation pipeline runs cohesion analytics on
    (trusses/triangles separate robust duplicate clusters from the chain
    artifacts single-shingle LSH blocking produces).

    Scale shape: identical to the Jaccard verify path — map-side shingle
    explode, one rare-shingle df filter, one blocked self-join, one
    algebraic pair count. Never all-pairs.
    """
    arr = shingle_sets(df, text_col)
    return (
        rare_pairs(arr.select("doc_id", F.explode("shs").alias("shingle")))
        .where(F.col("n") >= min_shared)
        .select("a", "b")
    )


def simhash64(df: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document: bit j is the sign of the sum over tokens
    of (bit j of md5-derived token hash ? +1 : -1). Pure column expressions;
    the token hash uses the first 15 hex chars of md5 (= 60 bits) — NOT 16:
    the DuckDB oracle casts '0x'-prefixed hex to signed BIGINT, and 60 bits
    keeps both the token hash and the reconstructed simhash inside signed
    63-bit headroom on both engines.
    """
    # r6 (guide §2.3): three value-identical reductions of the heavy 60-way
    # aggregate. (1) The simhash depends only on the DISTINCT TOKEN SET —
    # dedup sets first, run the per-bit sums once per distinct set, join
    # back. (2) md5 once per DISTINCT token (the minhash trick), not per
    # occurrence. (3) The ±1 sign sum b_j = Σ±1 >= 0 is equivalent to
    # 2·c_j >= n with c_j = Σ bit_j (a branch-free shiftright-and sum) and
    # n = token count: b_j = 2·c_j − n exactly, so the emitted bits are
    # identical.
    from ..operators.skew import ensure_parallelism

    tok = tokens_col(text_col)
    base = (
        ensure_parallelism(df.select("doc_id", F.col(text_col)))
        .select("doc_id", F.array_sort(F.array_distinct(tok)).alias("__ts"))
        .localCheckpoint()
    )
    sets = base.select("__ts").distinct()
    exploded = sets.select("__ts", F.explode("__ts").alias("token"))
    h = F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("long")
    dim = exploded.select("token").distinct().select("token", h.alias("th"))
    withbits = exploded.join(dim, "token").select("__ts", "th")
    bit_aggs = [
        F.sum(F.shiftright(F.col("th"), j).bitwiseAND(F.lit(1))).alias(f"c{j}")
        for j in range(60)
    ]
    sums = withbits.groupBy("__ts").agg(
        *bit_aggs, F.count(F.lit(1)).alias("__n")
    )
    sim_per_set = sums.select(
        "__ts",
        sum(
            [
                F.when(
                    F.lit(2) * F.col(f"c{j}") >= F.col("__n"),
                    F.lit(2**j).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
                for j in range(60)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return base.join(sim_per_set, "__ts").select("doc_id", "simhash")


SUBSTR_WINDOW = 8


def substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    w: int = SUBSTR_WINDOW,
    min_occ: int = 2,
) -> DataFrame:
    """Corpus-level duplicated-substring detection — the exact-substring
    dedup shape of Lee et al. 2022 ('Deduplicating Training Data Makes
    Language Models Better'), token-windowed: every sliding window of `w`
    tokens is hashed, and windows occurring >= min_occ times across the
    corpus are duplicated spans (boilerplate, licenses, templates).
    Output: (win_hash, n_docs, n_occurrences).

    Scale shape: ONE explode (O(total tokens) rows) + ONE hash aggregate —
    no self-join, no candidate pairs; min/count are algebraic, so map-side
    partial aggregation absorbs the extreme skew of template windows
    (exactly the hot keys this operator exists to find). The suffix-array
    construction of the paper is replaced by the windowed-hash equivalent,
    which distributes trivially and catches every duplicated span of
    length >= w tokens."""
    from ..operators.skew import ensure_parallelism

    toks = tokens_col(text_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - w, F.lit(0)))
    # r6: the window-hash explode (corpus_tokens/1 x md5) is the entire
    # cost and the scan may arrive as ONE split — spread it (guide §2.5)
    wins = ensure_parallelism(df.select("doc_id", F.col(text_col))).select(
        "doc_id",
        F.explode(
            F.transform(
                idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, w)))
            )
        ).alias("win_hash"),
    )
    return (
        wins.groupBy("win_hash")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_occurrences") >= min_occ)
    )


def neardup_clusters(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.8,
    k: int = MINHASH_SEEDS,
    band_rows: int = 2,
    max_bucket: int = MAX_DEDUP_BUCKET,
) -> DataFrame:
    """End-to-end near-duplicate CLUSTERING: the keep/drop decision a
    training-data pipeline actually ships (reference keeps per-doc dedup at
    the chunk level only; this is the corpus-curation extension).

    MinHash-LSH candidate pairs -> exact n-gram Jaccard verify on the
    blocked candidates ONLY -> distributed min-label connected components
    over the verified edges -> canonical (minimum doc_id) per cluster.
    Output one row per document: (doc_id, cluster_id, n_cluster, keep) with
    keep = (doc_id == cluster_id), so `where keep` is the deduplicated
    corpus and `where NOT keep` the drop list.

    Scale shape: ONE corpus scan (the pinned shingle frame feeds signature
    AND verify stages); the verify join fans out per candidate pair, never
    all-pairs; components via resolve.connected_components (r6: the
    hybrid — exact driver union-find under the edge threshold, distributed
    min-label propagation above it; near-dup clusters are star/clique
    shaped, so the distributed loop converges in a handful of rounds).
    """
    from pyspark.sql import Window

    from ..operators.resolve import connected_components

    # r6: the minhash stage derives its (doc_id, shingle) rows from the
    # shingle-set pin in-task, and the Jaccard verify becomes ONE
    # array_intersect per candidate pair against it instead of two
    # token-level joins + a re-aggregate (guide §2.3/§3.3). n_inter/n_a/n_b
    # and the rounded-jaccard filter are the identical integers/expression,
    # so the edge set is unchanged.
    arr = shingle_sets(df, text_col)
    sh = arr.select("doc_id", F.explode("shs").alias("shingle"))
    cand = minhash_band_pairs(
        df, text_col, k, band_rows, max_bucket, shingles=sh
    ).localCheckpoint()
    edges = (
        cand.join(
            arr.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a")),
            "doc_a",
        )
        .join(
            arr.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("shs_a", "shs_b")).cast("long").alias("n_inter"),
            F.size("shs_a").cast("long").alias("n_a"),
            F.size("shs_b").cast("long").alias("n_b"),
        )
        .where(
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            )
            >= threshold
        )
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    nodes = df.select(F.col("doc_id").alias("name"))
    # r6: the hybrid CC (driver union-find under the edge threshold — the
    # production resolve path, pytest-pinned label-equal to _cc_iterative;
    # distributed min-label propagation above it)
    comp = connected_components(nodes, edges)
    w_cluster = Window.partitionBy("comp")
    return comp.select(
        F.col("name").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        F.count(F.lit(1)).over(w_cluster).cast("long").alias("n_cluster"),
        (F.col("name") == F.col("comp")).alias("keep"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.9,
) -> DataFrame:
    """Asymmetric near-duplicate pairs by Broder CONTAINMENT:
    c(a in b) = |S(a) ∩ S(b)| / |S(a)|. A short doc wholly embedded in a
    longer one scores c≈1 while its symmetric Jaccard can be arbitrarily
    low — the quote-inclusion / boilerplate-wrapper case Jaccard misses.

    Same rare-shingle blocking and scale shape as ngram_jaccard_pairs (one
    pinned shingle frame, candidates only through shared rare shingles).
    Output: (doc_a, doc_b, cont_a, cont_b) with doc_a < doc_b, both
    directions rounded 4dp, kept when either direction >= threshold.
    """
    cont_a = F.round(F.col("n_inter") / F.col("n_a"), 4)
    cont_b = F.round(F.col("n_inter") / F.col("n_b"), 4)
    return (
        _sized_overlaps(df, text_col)
        .select("doc_a", "doc_b", cont_a.alias("cont_a"), cont_b.alias("cont_b"))
        .where((F.col("cont_a") >= threshold) | (F.col("cont_b") >= threshold))
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    t_num: int = 3,
    t_den: int = 5,
) -> DataFrame:
    """ALL qualifying near-duplicate pairs by word-set Jaccard >= t
    (t = t_num/t_den), found via PREFIX FILTERING (Chaudhuri et al. 2006 /
    Bayardo et al. AllPairs 2007, the PPJoin candidate rule) — the LOSSLESS
    blocked set-similarity join, in contrast to the heuristic blocking of
    ngram_jaccard_pairs (rare-shingle) and minhash_band_pairs (LSH):

    Order each doc's distinct tokens by global document frequency
    ascending (rarest first, token as tie-break — one global total order).
    If J(a, b) >= t then |a ∩ b| >= t·|a|, so a and b MUST share a token
    inside each other's first |x| - ceil(t·|x|) + 1 ordered tokens — pairs
    sharing no prefix token are provably below threshold and are never
    generated. Candidates therefore come only from a self-join on PREFIX
    tokens, which are by construction the globally RAREST — the fan-out
    the stopword head would cause is exactly what the ordering removes.

    The threshold is a rational t_num/t_den and the qualifying test is the
    integer cross-multiplication t_den·o >= t_num·(n_a + n_b - o): no
    float ever decides membership, so the output is the exact set the
    brute-force all-pairs join would produce (the oracle IS that brute
    force — no blocking logic to mirror).

    Output: (doc_a, doc_b, n_inter, n_a, n_b, jaccard 4dp), doc_a < doc_b.

    Scale shape (r6): identical token SETS are deduped first (their pairs
    are J=1 by construction), candidates come from a set-level prefix
    self-join tightened by the lossless AllPairs length filter and PPJoin
    positional filter, and verification is one array_intersect per
    candidate row against the pinned set dimension — no token-level verify
    join, no re-aggregate. One corpus scan, candidate shuffle only.
    """
    # r6 OPTIMIZATION (guide §2.3/§2.4, §3.3): three lossless changes, same
    # output set and values bit-for-bit.
    #   1. Dedup identical token SETS first — docs sharing a set are J=1
    #      pairs emitted directly; the candidate/verify machinery then runs
    #      per distinct set, never per doc.
    #   2. AllPairs length filter + PPJoin positional filter at candidate
    #      generation (both provably lossless: a qualifying pair's FIRST
    #      common token in the global order sits inside both prefixes and
    #      satisfies 1 + min(n_a-idx_a, n_b-idx_b) >= ceil(t/(1+t)(n_a+n_b)),
    #      as pure-integer cross-multiplication).
    #   3. Verification = size(array_intersect) INLINE on the candidate row
    #      (one broadcastable set dimension) instead of two token-level joins
    #      + a re-aggregate: the r5 plan shuffled candidates x tokens x 2
    #      (~1.2B rows at the driver bench sf) where this shuffles only the
    #      candidate keys once.
    from ..operators.skew import ensure_parallelism

    tok_sets = ensure_parallelism(df.select("doc_id", F.col(text_col))).select(
        "doc_id", tokens_col(text_col).alias("toks")
    )
    return set_jaccard_pairs(tok_sets, t_num=t_num, t_den=t_den)


def set_jaccard_pairs(
    tok_sets: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """Exact item-set Jaccard >= t_num/t_den self-join over a
    (doc_id, toks array<string>) frame — the engine under
    prefix_filter_pairs, factored out (r6) so other exact-threshold
    consumers (dedup_pr_eval's ground-truth side) share the bounded plan
    instead of hand-rolling an uncapped item-level self-join.
    Output: (doc_a, doc_b, n_inter, n_a, n_b, jaccard 4dp), doc_a < doc_b.

    ``toks`` is read as a SET: it is normalized to array_sort(array_distinct)
    at entry, so duplicated or unordered tokens cannot inflate n / n_inter
    or split one set into two.

    Building the plan runs jobs: the pin of the distinct sets (which also
    counts them) and ``dfreq.count()``, the vocabulary size. The dense vs
    general choice is made from those two counts at that point, before the
    returned frame is evaluated.
    """
    from pyspark.sql import Window

    tok_sets = tok_sets.select(
        "doc_id", F.array_sort(F.array_distinct("toks")).alias("toks")
    )
    # sid = min doc_id of the set: unique per set, no hash-collision risk;
    # the set count rides on the pin's own job
    sets, n_sets = pin_rows(
        tok_sets.groupBy("toks")
        .agg(
            F.min("doc_id").alias("sid"),
            F.collect_list("doc_id").alias("dids"),
        )
        .select("sid", "toks", "dids", F.size("toks").cast("long").alias("n"))
    )

    # intra-set pairs: identical token sets, J = 1 by construction (the
    # jaccard expression below evaluates to exactly 1.0: round(n/n, 4))
    intra = (
        sets.where(F.size("dids") >= 2)
        .select("n", F.explode("dids").alias("doc_a"), F.col("dids"))
        .select("n", "doc_a", F.explode("dids").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n").alias("n_inter"),
            F.col("n").alias("n_a"),
            F.col("n").alias("n_b"),
            F.round(F.col("n") / (F.col("n") + F.col("n") - F.col("n")), 4).alias(
                "jaccard"
            ),
        )
    )

    # ── qualifying CROSS-set pairs: two exact paths ──────────────────────
    # DENSE path: when the distinct-set count is bounded and the vocabulary
    # fits 63 bits, each set is one BIGINT bitmask and ALL set pairs are
    # tested with bit_count(ma & mb) in codegen — a deliberate, bounded
    # S x S comparison (<= DENSE_SETS_MAX^2 cheap bit ops, no shuffle, no
    # candidate distinct). On a tiny-vocabulary corpus prefix filtering is
    # provably useless (every prefix token's df is O(S), candidates ~ all
    # pairs anyway, and ~half the pairs QUALIFY at t = 0.6) so the win is
    # making the unavoidable quadratic per-pair test ~1 ns, not pruning.
    # Measured at the 10x driver-bench scale: 181.8 s (array_intersect
    # BNLJ) / ~46 s (prefix join + distinct + verify) -> 1.0 s.
    # GENERAL path (big corpus or wide vocabulary): the lossless prefix
    # filter with AllPairs length + PPJoin positional filters.
    stoks = sets.select("sid", "n", F.explode("toks").alias("token"))
    dfreq = stoks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df_"))
    n_vocab = dfreq.count()
    spark = tok_sets.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    if n_sets <= DENSE_SETS_MAX and n_vocab <= 63:
        tid = dfreq.select(
            "token",
            (F.row_number().over(Window.orderBy("token")) - 1).alias("tid"),
        )
        masks = (
            stoks.join(F.broadcast(tid), "token")
            .groupBy("sid")
            .agg(F.bit_or(F.expr("shiftleft(1L, tid)")).alias("mask"))
        )
        m = (
            sets.select("sid", "n", "dids")
            .join(masks, "sid")
            # AQE coalesces this tiny frame to 1 partition; the S x S
            # comparison below fans out of it, so parallelism must be
            # forced here (guide §2.5: input too small for the work ahead)
            .repartition(width)
            .localCheckpoint()
        )
        a = m.select(
            F.col("sid").alias("sa"), F.col("mask").alias("ma"),
            F.col("n").alias("na"), F.col("dids").alias("dids_a"),
        )
        b = m.select(
            F.col("sid").alias("sb"), F.col("mask").alias("mb"),
            F.col("n").alias("nb"), F.col("dids").alias("dids_b"),
        )
        o_bits = F.bit_count(F.col("ma").bitwiseAND(F.col("mb")))
        qual = (
            a.join(
                F.broadcast(b),
                (F.col("sa") < F.col("sb"))
                & (
                    F.lit(t_num) * F.greatest("na", "nb")
                    <= F.lit(t_den) * F.least("na", "nb")
                )
                & (
                    F.lit(t_den) * o_bits
                    >= F.lit(t_num) * (F.col("na") + F.col("nb") - o_bits)
                ),
            )
            .select("dids_a", "dids_b", "na", "nb", o_bits.cast("long").alias("o"))
        )
    else:
        # GENERAL path: set-level sparse intersection join — one equi-join
        # on the item, the overlap o as a COUNT aggregate (map-side
        # partials, no pair distinct, no second verify join), then the
        # integer cross-multiplication filter. Fan-out is sum over items of
        # C(set_df, 2) — the set dedup already collapsed duplicate docs, so
        # this is never worse than the r5 doc-level join and usually far
        # better. (A PPJoin prefix-filter variant was measured here and
        # LOST 5.6x at t = 1/2: low thresholds make prefixes half the set,
        # and the candidate distinct + re-verify costs more than the
        # straight aggregated join. Prefix filtering pays off at high
        # selectivity, which the dense path already covers.)
        la = stoks.select(
            F.col("sid").alias("sa"), F.col("n").alias("na"), "token"
        ).repartition(width, "token")
        lb = stoks.select(
            F.col("sid").alias("sb"), F.col("n").alias("nb"), "token"
        )
        inter = (
            la.join(lb, "token")
            .where(
                (F.col("sa") < F.col("sb"))
                # length filter: J >= t needs t*max(n) <= min(n)
                & (
                    F.lit(t_num) * F.greatest("na", "nb")
                    <= F.lit(t_den) * F.least("na", "nb")
                )
            )
            .groupBy("sa", "sb", "na", "nb")
            .agg(F.count(F.lit(1)).cast("long").alias("o"))
            .where(
                F.lit(t_den) * F.col("o")
                >= F.lit(t_num) * (F.col("na") + F.col("nb") - F.col("o"))
            )
        )
        # the set dimension re-attaches by statistics alone: the pinned
        # `sets` frame carries an accurate post-checkpoint size, so a small
        # dimension broadcasts and an oversized one degrades to a shuffle
        qual = (
            inter.join(
                sets.select(F.col("sid").alias("sa"), F.col("dids").alias("dids_a")),
                "sa",
            )
            .join(
                sets.select(F.col("sid").alias("sb"), F.col("dids").alias("dids_b")),
                "sb",
            )
            .select("dids_a", "dids_b", "na", "nb", "o")
        )
    swap = F.col("da") > F.col("db")
    cross = (
        qual.select("dids_b", "na", "nb", "o", F.explode("dids_a").alias("da"))
        .select("na", "nb", "o", "da", F.explode("dids_b").alias("db"))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            F.col("o").alias("n_inter"),
            F.when(swap, F.col("nb")).otherwise(F.col("na")).alias("n_a"),
            F.when(swap, F.col("na")).otherwise(F.col("nb")).alias("n_b"),
            F.round(
                F.col("o") / (F.col("na") + F.col("nb") - F.col("o")), 4
            ).alias("jaccard"),
        )
    )
    return intra.unionByName(cross)


def editdist_pairs(
    df: DataFrame, name_col: str = "name", max_dist: int = 1
) -> DataFrame:
    """Edit-distance-1 near-duplicate string pairs via symmetric-delete
    (SymSpell) blocking: two strings are within Levenshtein distance 1 iff
    their deletion neighborhoods ({s} union all 1-deletions of s) intersect
    — substitution at position p shares the delete-p variant, insert/delete
    shares the string itself — so ONE equi-join on the variant key is a
    COMPLETE blocking (no false negatives), then `F.levenshtein` verifies
    the survivors. The typo/variant-mining op a query-log or entity-name
    curation pipeline runs where full fuzzy matching (resolve.py's
    token_sort_ratio path) is too heavy.

    Scale shape: the variant explode is length+1 rows per distinct name; a
    variant bucket only contains names one edit from the SAME short string,
    so its size is bounded by |alphabet| x (len+1) + 1 regardless of corpus
    size — blocked equi-join, never all-pairs, no length/prefix bucket to
    skew (contrast prefix blocking, which degenerates on shared-prefix
    serial ids). The variant frame is pinned once ahead of its self-join
    (Catalyst gives zero ReusedExchange across self-join branches).
    Output: (name_a, name_b, dist) with name_a < name_b, dist <= max_dist.
    """
    dels = F.transform(
        F.sequence(F.lit(1), F.length("name")),
        lambda i: F.concat(
            F.substring(F.col("name"), F.lit(1), i - F.lit(1)),
            F.substring(F.col("name"), i + F.lit(1), F.length("name")),
        ),
    )
    if max_dist == 1:
        # r6 OPTIMIZATION (guide §2.3/§2.5): position-keyed deletion join.
        # dist <= 1 pairs decompose EXACTLY into (a) substitutions — equal
        # length, differing at exactly one position p, which share del_p and
        # ONLY del_p (so the (pos, v) equi-join emits each such pair exactly
        # once: no distinct needed), and (b) insert/delete — the shorter
        # name IS a deletion of the longer. Keying deletions by position
        # shatters the cross-position collision buckets that made the plain
        # neighborhood self-join fan out (a serial-id corpus shares 8-char
        # deletion variants across up to |alphabet| x positions parents),
        # and removes the big candidate `distinct` shuffle outright. Same
        # output rows and values: completeness per case (a)/(b), verify
        # unchanged.
        # names feeds both the deletion explode and the indel probe side —
        # pin it so the distinct shuffle runs once. AQE coalesces the small
        # distinct to 1 partition; the deletion explode and (pos, v) join
        # fan out of it, so parallelism is forced before the pins
        # (guide §2.5: input small, downstream work large).
        width = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")
        )
        names = (
            df.select(F.col(name_col).alias("name"))
            .distinct()
            .repartition(width)
            .localCheckpoint()
        )
        deld = names.select(
            "name",
            F.posexplode(
                F.when(F.length("name") >= 1, dels).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("pos", "v"),
        ).localCheckpoint()
        l = deld.select(F.col("name").alias("name_a"), "pos", "v")
        r = deld.select(F.col("name").alias("name_b"), "pos", "v")
        subs = (
            l.join(r, ["pos", "v"])
            .where(F.col("name_a") < F.col("name_b"))
            .select("name_a", "name_b")
        )
        indel = (
            names.select(F.col("name").alias("na"))
            .join(
                deld.select(F.col("name").alias("nb"), "v"),
                F.col("na") == F.col("v"),
            )
            .select(
                F.least("na", "nb").alias("name_a"),
                F.greatest("na", "nb").alias("name_b"),
            )
            .distinct()
        )
        cand = subs.unionByName(indel)
        dist = F.levenshtein("name_a", "name_b")
        return cand.where(dist <= max_dist).select(
            "name_a", "name_b", dist.cast("long").alias("dist")
        )
    variants = (
        df.select(F.col(name_col).alias("name"))
        .distinct()
        .select(
            "name",
            F.explode(
                F.array_distinct(F.concat(F.array(F.col("name")), dels))
            ).alias("v"),
        )
        .localCheckpoint()
    )
    l = variants.select(F.col("name").alias("name_a"), "v")
    r = variants.select(F.col("name").alias("name_b"), "v")
    cand = (
        l.join(r, "v")
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b")
    return cand.where(dist <= max_dist).select(
        "name_a", "name_b", dist.cast("long").alias("dist")
    )


def chunk_dedup(
    df: DataFrame, text_col: str = "text", width: int = 20
) -> DataFrame:
    """CCNet-style duplicated-passage removal WITH text reconstruction:
    split each doc into fixed ``width``-token chunks, keep only the
    globally FIRST occurrence of each chunk (by the (doc_id, chunk_idx)
    total order), and reassemble each doc from its surviving chunks —
    the within-corpus boilerplate scrub a pretraining pipeline runs
    before tokenization (dedup_substring is the report-only overlapping-
    window sibling; this one rewrites the corpus).

    Scale shape: the chunk explode is map-side (corpus tokens / width
    rows); first-occurrence selection is an algebraic min-struct per
    chunk hash (map-side partials absorb boilerplate mega-duplicates —
    a row_number window would shuffle every occurrence to one reducer)
    followed by the hash-keyed join back; reassembly is one per-doc
    collect of the doc's own <=n_chunks rows. The chunk frame is pinned
    once (three consumers). Output: (doc_id, new_text, n_kept,
    n_dropped) — every input doc appears, fully-duplicated docs with
    new_text = '' and n_kept = 0.
    """
    toks = tokens_col(text_col)
    n_ch = F.expr(f"(size({text_col}_toks) + {width - 1}) div {width}")
    chunks_arr = F.transform(
        F.sequence(F.lit(0), n_ch - F.lit(1)),
        lambda i: F.concat_ws(
            " ", F.slice(F.col(f"{text_col}_toks"), i * width + 1, width)
        ),
    )
    from ..operators.skew import ensure_parallelism

    ch = (
        ensure_parallelism(df.select("doc_id", F.col(text_col)))
        .select("doc_id", toks.alias(f"{text_col}_toks"))
        .select("doc_id", F.posexplode(chunks_arr).alias("idx", "chunk"))
        .withColumn("h", F.md5("chunk"))
        .localCheckpoint()
    )
    firsts = ch.groupBy("h").agg(
        F.min(F.struct("doc_id", "idx")).alias("f")
    )
    kept = (
        ch.join(firsts, "h")
        .where(
            (F.col("doc_id") == F.col("f.doc_id"))
            & (F.col("idx") == F.col("f.idx"))
        )
        .select("doc_id", "idx", "chunk")
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("new_text"),
    )
    tot = ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks")
    )
    return tot.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("new_text", F.lit("")).alias("new_text"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
    )


def lcs_run_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = SHINGLE_N,
    min_shared: int = 3,
) -> DataFrame:
    """Longest common token SUBSTRING between every blocked candidate pair —
    the boilerplate-vs-true-duplicate discriminator: near-dup docs share a
    long contiguous run, template docs share many scattered shingles.

    Method: candidate pairs by the rare-shingle blocking of
    shingle_overlap_edges, over the pair's n-gram sets; for each pair, the
    POSITIONAL n-gram matches (p in a, q in b with equal grams) lie on
    diagonals d = p - q, and a maximal run of consecutive p on one diagonal
    of length L is a common substring of L + n - 1 tokens. Runs via
    gaps-and-islands (p - row_number per (pair, d)), max over the pair.

    Scale shape: one corpus scan and one split, pinned as each document's
    positional grams; the shingle sets (their array_distinct) and both
    match-join legs (their posexplode) read that pin. The match join fans
    out only over blocked pairs x shared grams (bucket-capped by the rare
    filter). No global window — islands partition by (pair, diagonal).
    Output: (a, b, lcs_tokens).
    """
    from ..operators.skew import ensure_parallelism

    grams = (
        ensure_parallelism(df.select("doc_id", F.col(text_col)))
        .select("doc_id", grams_col(text_col, n).alias("grams"))
        .localCheckpoint()
    )
    pairs = (
        rare_pairs(grams.select("doc_id", F.explode(F.array_distinct("grams")).alias("shingle")))
        .where(F.col("n") >= min_shared)
        .select("a", "b")
        .localCheckpoint()
    )
    pos = grams.select("doc_id", F.posexplode("grams").alias("p", "g"))
    la = pos.select(F.col("doc_id").alias("a"), F.col("p").alias("pa"), "g")
    lb = pos.select(F.col("doc_id").alias("b"), F.col("p").alias("pb"), "g")
    # r6: no distinct — (a, b, pa, pb) rows are unique by construction
    # (a position pair determines its gram), and d = pa - pb is a function
    # of them, so (a, b, d, pa) can never repeat; the dedup shuffle was a
    # provable no-op (guide §2.4: a distinct on already-unique data).
    m = (
        pairs.join(la, "a")
        .join(lb, ["b", "g"])
        .select("a", "b", (F.col("pa") - F.col("pb")).alias("d"), "pa")
    )
    w = Window.partitionBy("a", "b", "d").orderBy("pa")
    isl = m.select(
        "a", "b", "d", (F.col("pa") - F.row_number().over(w)).alias("grp")
    )
    runs = isl.groupBy("a", "b", "d", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("run")
    )
    return runs.groupBy("a", "b").agg(
        (F.max("run") + F.lit(n - 1)).cast("long").alias("lcs_tokens")
    )


def cdc_chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    window: int = 3,
    mask_mod: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Content-defined chunking (FastCDC-style) shared-segment detection:
    cut each document's token stream AFTER position p whenever the hash of
    the trailing `window`-token gram is 0 mod mask_mod (expected chunk
    length = mask_mod tokens), hash each variable-length chunk, and report
    chunks whose content appears in >= min_docs distinct documents.

    Unlike fixed-window chunk_dedup, CDC boundaries are content-anchored:
    inserting a token near a document's head shifts every fixed window but
    leaves all later CDC cut points intact — the property that makes
    dedup-by-chunk-hash survive edits at 100 TB.

    Scale shape: one scan, one per-doc bounded cumulative window to number
    chunks, one collect_list per (doc, chunk) reassembled via array_sort
    (never a window sort), one count per chunk hash. Output:
    (chunk_md5, n_docs, n_occurrences).
    """
    from ..operators.skew import ensure_parallelism

    toks = tokens_col(text_col)
    pt = ensure_parallelism(df.select("doc_id", F.col(text_col))).select(
        "doc_id", F.posexplode(toks).alias("p", "t")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    gram = F.concat_ws(
        " ", F.lag("t", 2).over(w), F.lag("t", 1).over(w), F.col("t")
    )
    bnd = F.when(
        (F.col("p") >= window - 1)
        & (
            F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
            % mask_mod
            == 0
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    marked = pt.select("doc_id", "p", "t", bnd.alias("__b"))
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = marked.select(
        "doc_id",
        "p",
        "t",
        F.coalesce(F.sum("__b").over(wprev), F.lit(0))
        .cast("long")
        .alias("__chunk"),
    )
    ch = chunked.groupBy("doc_id", "__chunk").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "t"))),
                    lambda x: x["t"],
                ),
                " ",
            )
        ).alias("chunk_md5")
    )
    return (
        ch.groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-duplicate PAIRS via pigeonhole banding (Manku et al.
    2007, the production web-dedup scheme): split the 60-bit simhash into
    `bands` contiguous bands; any pair within Hamming distance
    <= bands - 1 must agree EXACTLY on at least one band (pigeonhole), so
    blocking on band equality is LOSSLESS for max_hamming <= bands - 1 —
    the brute-force all-pairs oracle IS the parity claim (the
    dedup_prefix_filter convention), no blocking logic to mirror.

    Scale shape: 4 band keys/doc, exact-match self-join per band, distinct
    pairs, one bit_count(xor) verify per candidate — never all-pairs. At
    boilerplate scale, cap band buckets like MAX_DEDUP_BUCKET (the star
    keeps clusters connected); the gate keeps full pairwise so the
    pigeonhole-exactness theorem stays checkable.
    Output: (a, b, hamming)."""
    assert max_hamming <= bands - 1, "pigeonhole guarantee needs h <= bands-1"
    # r6 (guide §2.3): dedup identical simhash VALUES before the band join —
    # near-duplicate corpora collapse 2-3x here, and the band-bucket
    # fan-out (sum of C(bucket, 2)) shrinks QUADRATICALLY with the
    # collapse. Identical-value doc pairs are hamming-0 and emitted
    # directly; cross-value candidates run the same pigeonhole band join
    # over distinct values only, verify early (the hamming test is two long
    # ops — filter-then-distinct == distinct-then-filter for a
    # deterministic predicate), dedup at VALUE-pair granularity, and expand
    # to doc pairs last. Same output rows: hamming depends only on the
    # values, doc order restored with least/greatest.
    sh = simhash64(df, text_col)
    vals = (
        sh.groupBy("simhash")
        .agg(F.collect_list("doc_id").alias("dids"))
        .localCheckpoint(eager=True)
    )
    intra = (
        vals.where(F.size("dids") >= 2)
        .select(F.explode("dids").alias("a"), "dids")
        .select("a", F.explode("dids").alias("b"))
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(0).cast("long").alias("hamming"))
    )
    width = 60 // bands
    mask = (1 << width) - 1
    banded = vals.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("__b"),
    ).select("simhash", F.col("__b.band").alias("band"), F.col("__b.key").alias("key"))
    l = banded.select(F.col("simhash").alias("sa"), "band", "key")
    r = banded.select(F.col("simhash").alias("sb"), "band", "key")
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    vpairs = (
        l.join(r, ["band", "key"])
        .where(F.col("sa") < F.col("sb"))
        .select("sa", "sb", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    cross = (
        vpairs.join(
            vals.select(F.col("simhash").alias("sa"), F.col("dids").alias("dids_a")),
            "sa",
        )
        .join(
            vals.select(F.col("simhash").alias("sb"), F.col("dids").alias("dids_b")),
            "sb",
        )
        .select("hamming", "dids_b", F.explode("dids_a").alias("da"))
        .select("hamming", "da", F.explode("dids_b").alias("db"))
        .select(
            F.least("da", "db").alias("a"),
            F.greatest("da", "db").alias("b"),
            "hamming",
        )
    )
    return intra.unionByName(cross)
