"""Corpus-level statistics: n-gram counting, bigram language-model tables,
and inverted-index construction — the classic web-scale MapReduce text
workloads, expressed as pure DataFrame plans (no Python in the hot path).

The reference computes per-corpus term statistics while linking entities
(`app/kg/entity_resolver.py` builds its alias dictionaries from corpus
terms); at 10^12 documents these corpus passes are the dominant cost, so
each operator here is shaped for that scale:

* `ngram_topk` — one explode + one algebraic count + TakeOrderedAndProject
  (top-k never global-sorts: each partition keeps k candidates, the driver
  merges k x partitions rows).
* `bigram_lm` — conditional next-token table P(w2|w1): after the pair
  count, every per-w1 window runs over the DISTINCT-successor frame whose
  group size is bounded by vocabulary, not corpus size — the stopword head
  is absorbed by the map-side partial count, never by a window sort.
* `inverted_index` — posting lists capped BEFORE collection via the
  two-phase `skew.topk_per_group` prune, so a stopword's reducer holds
  k x partitions doc ids, never its full (corpus-sized) posting list; the
  document frequency is a separate algebraic count over the same exploded
  frame (pinned once).

Tokenization is `textfns.tokens_col` (literal single-space split) so every
operator has an exact DuckDB oracle; n-gram windows follow the
full-window multiset policy of `textfns._ngrams_col` (no partial grams,
empty for sub-n docs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textfns import _EN_STOPWORDS, _ngrams_col, tokens_col
from ..operators.skew import ensure_parallelism, topk_per_group


def ngram_topk(
    docs: DataFrame, n: int = 2, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Top-k corpus n-grams by occurrence count (the LM-counting workload).
    Deterministic total order (count desc, gram asc) so the top-k SET is
    well-defined under ties. Output: (ngram, c).

    Plan shape: explode -> partial+final count (one shuffle) ->
    TakeOrderedAndProject (no global sort, no full-result materialize).
    """
    # the one-element transform binds the split token array once per doc;
    # passed directly, _ngrams_col's lambda would re-split it for every gram
    grams = F.transform(
        F.array(tokens_col(text_col)), lambda toks: _ngrams_col(toks, n)
    )[0]
    # r6: the gram build is the whole cost of this op and the corpus often
    # arrives as ONE parquet split — spread the scan (guide §2.5)
    return (
        ensure_parallelism(docs.select(F.col(text_col)))
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.desc("c"), F.asc("ngram"))
        .limit(k)
    )


def bigram_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One (w1, w2) row per adjacent token pair occurrence (order-
    sensitive, sub-2-token docs contribute nothing — the F.sequence(1, 0)
    descending trap is guarded by the size filter)."""
    toks = tokens_col(text_col)
    return (
        ensure_parallelism(docs.select(F.col(text_col)))
        .where(F.size(toks) >= 2)
        .select(toks.alias("ts"))
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.struct(
                        F.element_at("ts", i).alias("w1"),
                        F.element_at("ts", (i + F.lit(1)).cast("int")).alias("w2"),
                    ),
                )
            ).alias("pr")
        )
        .select("pr.w1", "pr.w2")
    )


def kneser_ney_bigram(
    docs: DataFrame, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Interpolated Kneser-Ney smoothed bigram probabilities (Kneser &
    Ney 1995; Chen & Goodman 1998) with the textbook discount D = 0.75,
    for the corpus' top-``k`` bigrams (count desc, then w1/w2 asc — a
    deterministic total order):

        p_KN(w2|w1) = (c(w1w2) − D)/c(w1·) + D·N₁₊(w1·)/c(w1·) · p_cont(w2)
        p_cont(w2)  = N₁₊(·w2) / |distinct bigram types|

    (for OBSERVED bigrams c ≥ 1 > D, so the max(·,0) clip never binds).
    D = 3/4 is exact in quarters, so multiplying through by 4 makes the
    whole expression ONE rational: p = ((4c−3)·T + 3·N₁₊(w1·)·N₁₊(·w2))
    / (4·c(w1·)·T) — exact BIGINT numerator and denominator, one
    closed-form division, structural cross-engine float parity.

    Scale shape: the corpus-sized explode is absorbed by the map-side
    partial of the (w1, w2) count; the type-count frames are
    vocab-bounded; the pair-count frame is pinned (four consumers); the
    top-k is TakeOrderedAndProject and the final joins attach
    vocab-bounded aggregates to k rows. Output: (w1, w2, c12, c1,
    n1fwd, ncont, n_types, p_kn) with p_kn unrounded.
    """
    big = (
        bigram_pairs(docs, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint(eager=True)
    )
    per1 = big.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1fwd"),
    )
    cont = big.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("ncont")
    )
    ntypes = big.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    top = big.orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2")).limit(int(k))
    j = top.join(per1, "w1").join(cont, "w2").crossJoin(F.broadcast(ntypes))
    num = (F.lit(4) * F.col("c12") - F.lit(3)) * F.col("n_types") + F.lit(
        3
    ) * F.col("n1fwd") * F.col("ncont")
    den = F.lit(4) * F.col("c1") * F.col("n_types")
    return j.select(
        "w1",
        "w2",
        "c12",
        "c1",
        "n1fwd",
        "ncont",
        "n_types",
        (num.cast("double") / den.cast("double")).alias("p_kn"),
    )


def rake_keywords(
    docs: DataFrame,
    k: int = 20,
    text_col: str = "text",
    stopwords: list[str] | None = None,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    the maximal runs of non-stopword tokens, each word scores
    deg(w)/freq(w) (deg = Σ length of phrases containing w — words that
    live in long phrases carry more context), and a phrase scores the
    sum of its words' scores. Top-``k`` phrases by score, ties broken on
    the phrase string.

    Float parity by construction: word scores are quantized to BIGINT
    nano-units ((deg·10⁹) div freq — non-negative operands, truncating
    div == floor div anywhere), phrase scores are BIGINT sums of those
    (order-free), ranking happens on the BIGINT, and the single /10⁹ at
    the end is the only float.

    Scale shape: one posexplode (the corpus pass), gaps-and-islands
    phrase ids from a per-doc window (pos − row_number — bounded by doc
    length), phrase assembly via array_sort(collect_list(struct)) (never
    a window sort), the vocab-bounded word-score table broadcast back,
    and TakeOrderedAndProject for the top-k. The phrase-word frame is
    pinned once (word stats + phrase assembly both read it).

    Output: (phrase, n_words, n_occur, score) with score unrounded.
    """
    sw = list(stopwords) if stopwords is not None else list(_EN_STOPWORDS)
    toks = tokens_col(text_col)
    ex = ensure_parallelism(docs.select("doc_id", F.col(text_col))).select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )
    ns = ex.where((~F.col("tok").isin(sw)) & (F.col("tok") != ""))
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    pw = ns.select(
        "doc_id",
        "pos",
        "tok",
        (F.col("pos") - F.row_number().over(w_doc)).alias("grp"),
    ).localCheckpoint(eager=True)
    w_ph = Window.partitionBy("doc_id", "grp")
    pl = pw.withColumn(
        "plen", F.count(F.lit(1)).over(w_ph).cast("long")
    )
    ws = (
        pl.groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
        .select(
            "tok", F.expr("(deg * 1000000000) div freq").alias("ws_q")
        )
    )
    pp = (
        pw.join(F.broadcast(ws), "tok")
        .groupBy("doc_id", "grp")
        .agg(
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(pos, tok))), s -> s.tok), ' ')"
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("ws_q").cast("long").alias("score_q"),
        )
    )
    ag = pp.groupBy("phrase").agg(
        F.max("n_words").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_occur"),
        F.max("score_q").cast("long").alias("score_q"),
    )
    return (
        ag.orderBy(F.desc("score_q"), F.asc("phrase"))
        .limit(int(k))
        .select(
            "phrase",
            "n_words",
            "n_occur",
            (F.col("score_q") / F.lit(1000000000.0)).alias("score"),
        )
    )


def bigram_lm(
    docs: DataFrame, min_count: int = 5, text_col: str = "text"
) -> DataFrame:
    """Maximum-likelihood bigram next-token table: for every token w1 seen
    at least `min_count` times as a non-final token, the most likely
    successor w2 with its conditional probability c(w1 w2)/c(w1*).
    Ties break lexicographically on w2 (total order — deterministic).
    Output: (w1, w2_top, c1, c12, p).

    c1 is the CONTINUATION count (occurrences of w1 followed by anything),
    i.e. sum of c12 over w1 — so p is a true distribution over successors.
    The per-w1 window sorts distinct successors only (vocab-bounded), not
    corpus occurrences; the corpus-sized explode is absorbed by the
    map-side partial of the (w1, w2) count.
    """
    big = bigram_pairs(docs, text_col).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    w_tot = Window.partitionBy("w1")
    w_rank = Window.partitionBy("w1").orderBy(F.desc("c12"), F.asc("w2"))
    return (
        big.withColumn("c1", F.sum("c12").over(w_tot).cast("long"))
        .withColumn("__rn", F.row_number().over(w_rank))
        .where((F.col("__rn") == 1) & (F.col("c1") >= int(min_count)))
        .select(
            "w1",
            F.col("w2").alias("w2_top"),
            "c1",
            "c12",
            F.round(F.col("c12") / F.col("c1"), 4).alias("p"),
        )
    )


def inverted_index(
    docs: DataFrame, max_postings: int = 20, text_col: str = "text"
) -> DataFrame:
    """Inverted index: one row per distinct term with its document
    frequency and the first `max_postings` doc_ids ascending, serialized
    as a comma-joined string (cross-engine comparable). Output:
    (term, df, postings).

    Scale shape: the exploded (term, doc_id) frame is pinned once and
    feeds BOTH the algebraic df count AND the posting-list build; postings
    are capped through `skew.topk_per_group` BEFORE collect_list, so a
    stopword term never materializes its corpus-sized posting list on one
    reducer — the cap bounds reducer memory by k x partitions.
    """
    toks = tokens_col(text_col)
    pairs = (
        ensure_parallelism(docs.select("doc_id", F.col(text_col)))
        .select("doc_id", F.explode(F.array_distinct(toks)).alias("term"))
        .localCheckpoint()
    )
    dfreq = pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    top = topk_per_group(
        pairs, ["term"], [F.asc("doc_id")], k=int(max_postings)
    )
    postings = top.groupBy("term").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings")
    )
    return dfreq.join(postings, "term").select("term", "df", "postings")


def doc_lm_scores(
    docs: DataFrame, scale: int = 100000, text_col: str = "text"
) -> DataFrame:
    """Per-document mean bigram surprisal under the corpus-trained ML
    bigram model — the KenLM-style LM quality filter every web-scale
    training-data pipeline runs (high mean surprisal = unnatural token
    sequences = boilerplate / garbled text; reference analogue: the
    quality gates around `app/processing/document_processor.py`).

    surprisal(w1 w2) = -ln P(w2|w1) = ln(c1/c12) in nats, where c12 is
    the corpus bigram count and c1 the continuation count of w1 (sum of
    c12 over successors — the same ML estimate as `bigram_lm`). Output:
    (doc_id, n_bigrams, sum_sq, mean_nats) for every doc with >= 2
    tokens; mean_nats = mean surprisal rounded to 4dp.

    Float-parity design (CLAUDE.md invariant #3): ln over the SAME
    BIGINT/BIGINT double division is bit-identical cross-engine (proven
    by the text_tfidf_topk gate), but a per-doc float SUM is
    order-dependent — so each bigram's surprisal is floor-quantized to
    an integer (`sum_sq` = sum of floor(ln(c1/c12) * scale), exact
    BIGINT arithmetic, order-free) and the only double is ONE closed
    form per doc. floor (not round) because floor is half-unambiguous
    in both engines.

    Scale shape: the corpus-sized positional explode is absorbed
    immediately by a (doc_id, w1, w2) pre-aggregate that is pinned ONCE
    and feeds both the global bigram count and the per-doc scoring join;
    the stats side is vocabulary-pair-bounded, never corpus-sized, and
    the scoring join is a plain shuffle hash join on (w1, w2) — no
    second corpus scan, no broadcast of an unbounded side.
    """
    toks = tokens_col(text_col)
    dpairs = (
        ensure_parallelism(docs.select("doc_id", F.col(text_col)))
        .where(F.size(toks) >= 2)
        .select("doc_id", toks.alias("ts"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.struct(
                        F.element_at("ts", i).alias("w1"),
                        F.element_at("ts", (i + F.lit(1)).cast("int")).alias("w2"),
                    ),
                )
            ).alias("pr"),
        )
        .select("doc_id", "pr.w1", "pr.w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .localCheckpoint()
    )
    c12 = dpairs.groupBy("w1", "w2").agg(F.sum("k").cast("long").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    st = c12.join(c1, "w1").select(
        "w1",
        "w2",
        F.floor(F.log(F.col("c1") / F.col("c12")) * float(scale))
        .cast("long")
        .alias("sq"),
    )
    return (
        dpairs.join(st, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.sum(F.col("k") * F.col("sq")).cast("long").alias("sum_sq"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_sq",
            F.round(
                F.col("sum_sq").cast("double") / F.col("n_bigrams") / float(scale), 4
            ).alias("mean_nats"),
        )
    )


def vocab_growth(
    docs: DataFrame, bucket_width: int = 256, text_col: str = "text"
) -> DataFrame:
    """Heaps-law vocabulary-growth curve: for each doc (in doc_id order)
    the number of NEVER-SEEN-BEFORE terms it introduces and the running
    vocabulary size. Output: (doc_id, n_new, vocab).

    A term is "introduced" by the minimum doc_id containing it — an
    algebraic min, so the curve needs NO ordered scan of the corpus: one
    min per term, one count per introducing doc, then a prefix sum of
    per-doc counts in doc_id order. The prefix sum is the two-phase
    bucketed shape of curate.with_cum_tokens, keyed by integer RANGE
    buckets (doc_id div bucket_width) instead of hash prefixes because the
    order here is semantic: per-bucket running sums in parallel, then an
    exclusive prefix over the bucket totals (the only single-partition
    window, |buckets| rows by construction). Sparse/skewed id ranges make
    ragged buckets — acceptable: a bucket is at most `bucket_width` rows.
    """
    w = int(bucket_width)
    pairs = ensure_parallelism(docs.select("doc_id", F.col(text_col))).select(
        "doc_id", F.explode(F.array_distinct(tokens_col(text_col))).alias("term")
    )
    first = pairs.groupBy("term").agg(F.min("doc_id").alias("doc_id"))
    new_per_doc = first.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    base = (
        docs.select("doc_id")
        .join(new_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            (F.col("doc_id") - (F.col("doc_id") % w)).alias("bkt"),
        )
    )
    w_local = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = base.withColumn("local_cum", F.sum("n_new").over(w_local))
    w_off = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("bkt")
        .agg(F.max("local_cum").alias("tot"))
        .select(
            "bkt", F.coalesce(F.sum("tot").over(w_off), F.lit(0)).alias("off")
        )
    )
    return local.join(F.broadcast(offsets), "bkt").select(
        "doc_id",
        "n_new",
        (F.col("local_cum") + F.col("off")).cast("long").alias("vocab"),
    )


def zipf_slope(
    docs: DataFrame, k: int = 1000, text_col: str = "text", group_col: str = "lang"
) -> DataFrame:
    """Zipf-law slope of the word-frequency distribution per corpus slice:
    the least-squares slope of ln(count) on ln(rank) over the TOP-k
    vocabulary head (a healthy natural-language corpus sits near -1;
    boilerplate-heavy or deduplicated-to-death slices drift off — the
    corpus-level health check next to `vocab_growth`'s Heaps curve).

    The fit is deliberately head-limited: the Zipf regime IS the head (the
    tail bends by Heaps' law), and top-k per group via the two-phase
    `skew.topk_per_group` bounds per-group state at k rows no matter the
    vocabulary size — the rank window then orders k rows, never the vocab.

    Float parity (CLAUDE.md invariant #3): x = floor(ln(rank)*1e5) and
    y = floor(ln(count)*1e5) are BIGINTs (ln over small exact integers —
    the doc_lm_scores precedent), the five regression moments are exact
    order-free integer sums, and the slope is ONE closed-form expression
    whose three products are computed in double (BIGINT x BIGINT would
    overflow at n*sxy ~ 1e21) in the identical operand order on both
    engines; the 1e5 quantization scale cancels in the ratio. `+ 0.0`
    normalizes a potential -0.0 from rounding (the sample_dsir trap).

    Returns (group, n_head, sx, sy, sxy, sxx, slope); slope is NULL for
    degenerate heads (n < 2).
    """
    counts = (
        ensure_parallelism(docs.select(F.col(group_col).alias("grp"), F.col(text_col)))
        .select("grp", F.explode(tokens_col(text_col)).alias("term"))
        .groupBy("grp", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    top = topk_per_group(
        counts, ["grp"], [F.desc("c"), F.asc("term")], k, rank_col="__r"
    )
    w = Window.partitionBy("grp").orderBy(F.desc("c"), F.asc("term"))
    ranked = top.select("grp", "c", F.row_number().over(w).alias("r"))
    xq = F.floor(F.log(F.col("r").cast("double")) * F.lit(100000.0)).cast("long")
    yq = F.floor(F.log(F.col("c").cast("double")) * F.lit(100000.0)).cast("long")
    pts = ranked.select("grp", xq.alias("xq"), yq.alias("yq"))
    ag = pts.groupBy(F.col("grp").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_head"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
    )
    num = F.col("n_head").cast("double") * F.col("sxy") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.col("n_head").cast("double") * F.col("sxx") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    return ag.select(
        group_col,
        "n_head",
        "sx",
        "sy",
        "sxy",
        "sxx",
        F.when(
            (F.col("n_head") >= 2) & (den != 0.0),
            F.round(num / den, 4) + F.lit(0.0),
        ).alias("slope"),
    )


def ppl_buckets(
    docs: DataFrame, n_buckets: int = 3, scale: int = 100000, text_col: str = "text"
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    document by its LM score (mean bigram surprisal from `doc_lm_scores`,
    ascending — most-natural text first) and cut the corpus into
    `n_buckets` equal-population tiers (CCNet's head/middle/tail). The
    bucket label is the canonical quality stratum for mixing decisions
    (train on head+middle, drop tail).

    Returns (doc_id, mean_nats, ppl_rank, bucket) with bucket in
    [1, n_buckets]. The rank order is the double sum_sq/n_bigrams
    (identical BIGINT/BIGINT division cross-engine) with doc_id tiebreak;
    bucket = floor((rank-1)*n_buckets/N) + 1 over exact BIGINTs.

    Scale shape: the global rank is `global_rank_bucketed` — per-bucket
    parallel windows plus a bucket-count prefix sum, never a single-reducer
    global sort; N arrives as a 1-row broadcast. The LM frame is pinned so
    the rank and the count read one materialization.
    """
    from ..operators.skew import global_rank_bucketed

    lm = doc_lm_scores(docs, scale=scale, text_col=text_col).localCheckpoint()
    mean = F.col("sum_sq") / F.col("n_bigrams")
    ranked = global_rank_bucketed(
        lm,
        bucket_col=-F.floor(mean / F.lit(float(scale)) * F.lit(16.0)),
        order_cols=[F.asc(mean), F.asc("doc_id")],
        rank_col="ppl_rank",
    )
    tot = lm.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    return ranked.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "mean_nats",
        F.col("ppl_rank").cast("long").alias("ppl_rank"),
        (
            F.floor(
                (F.col("ppl_rank") - 1) * F.lit(int(n_buckets)) / F.col("n_tot")
            )
            + 1
        )
        .cast("long")
        .alias("bucket"),
    )


def bm25_topk(
    docs: DataFrame,
    k: int = 20,
    q_lo: int = 10,
    q_hi: int = 14,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """BM25 retrieval: score every document against a deterministic query
    term set (document-frequency ranks [q_lo, q_hi] — the mid-frequency
    band, where BM25 actually discriminates) and return the top-k docs.
    This is the retrieval-scoring workload the reference runs through its
    vector store (`app/rag/`), re-expressed as the classic sparse ranking
    function so it is exactly oracle-able.

    Float parity: each (doc, term) partial score is ONE closed-form double
    from exact BIGINTs (tf, df, dl, n_docs) + the broadcast avgdl, computed
    in identical operand order cross-engine, then quantized to BIGINT
    micro-units (floor(x*1e6+0.5)) BEFORE the per-doc sum — summing doubles
    across terms would be addition-order-sensitive; summing BIGINTs is not.
    Ranking is on the BIGINT sum (deterministic total order with doc_id
    tiebreak); the reported double is reconstructed once per survivor.

    Scale shape: one corpus scan (the tf frame is pinned and re-derives
    dl, df and the score join from the materialization); the query-term
    selection is TakeOrderedAndProject over the vocabulary-sized df frame
    (never a global sort); qterms and the corpus stats arrive as broadcast
    frames; the only corpus-sized shuffles are the tf groupBy and the
    per-doc sum. Output: (doc_id, n_qterms, bm25, rk), rk in [1, k].
    """
    pairs = ensure_parallelism(docs.select("doc_id", F.col(text_col))).select(
        "doc_id", F.explode(tokens_col(text_col)).alias("term")
    )
    tf = (
        pairs.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint()
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # deterministic mid-frequency query band: df desc, term asc ranks
    # [q_lo, q_hi]; limit first (TakeOrderedAndProject), window the <=q_hi
    # survivors (never the whole vocabulary)
    qw = Window.orderBy(F.desc("df"), F.asc("term"))
    qterms = (
        dfreq.orderBy(F.desc("df"), F.asc("term"))
        .limit(q_hi)
        .withColumn("qrk", F.row_number().over(qw))
        .where(F.col("qrk") >= q_lo)
        .select("term", "df")
    )
    stats = (
        dl.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
        .select("n_docs", (F.col("sum_dl") / F.col("n_docs")).alias("avgdl"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    den = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    score_q = F.floor(
        idf * (F.col("tf") * F.lit(k1 + 1.0)) / den * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    per_doc = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", score_q.alias("sq"))
        .groupBy("doc_id")
        .agg(
            F.sum("sq").cast("long").alias("s_q"),
            F.count(F.lit(1)).cast("long").alias("n_qterms"),
        )
    )
    rw = Window.orderBy(F.desc("s_q"), F.asc("doc_id"))
    return (
        per_doc.orderBy(F.desc("s_q"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rk", F.row_number().over(rw).cast("long"))
        .select(
            "doc_id",
            "n_qterms",
            F.round(F.col("s_q") / F.lit(1000000.0), 4).alias("bm25"),
            "rk",
        )
    )


def rrf_fusion(
    docs: DataFrame,
    k: int = 20,
    q_lo: int = 10,
    q_hi: int = 14,
    k1: float = 1.2,
    b: float = 0.75,
    rrf_k: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of two sparse
    retrieval systems over the same deterministic query band as
    ``bm25_topk``: system A = BM25 top-k, system B = query-term-overlap
    top-k (n matched query terms desc, total tf desc — pure integers).
    This is the hybrid-search merge every production retrieval stack runs
    (lexical + second signal fused by rank, not by incomparable scores).

    Exactness: RRF score = Σ 1/(rrf_k + rank) over the systems that
    retrieved the doc — each reciprocal is the exact BIGINT
    ``1e9 div (rrf_k + rank)`` so the fused ordering is integer-exact
    (no float summation anywhere); absent-in-system ranks report 0 and
    contribute 0, the standard convention. The per-(doc,term) tf frame is
    pinned once — both systems, the query-band selection and the corpus
    stats all derive from the one materialization (one corpus scan total).
    The fused frame is ≤ 2k rows, so the final window is driver-trivial.
    """
    pairs = ensure_parallelism(docs.select("doc_id", F.col(text_col))).select(
        "doc_id", F.explode(tokens_col(text_col)).alias("term")
    )
    tf = (
        pairs.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint()
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qw = Window.orderBy(F.desc("df"), F.asc("term"))
    qterms = (
        dfreq.orderBy(F.desc("df"), F.asc("term"))
        .limit(q_hi)
        .withColumn("qrk", F.row_number().over(qw))
        .where(F.col("qrk") >= q_lo)
        .select("term", "df")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    ).select("n_docs", (F.col("sum_dl") / F.col("n_docs")).alias("avgdl"))
    qtf = tf.join(F.broadcast(qterms), "term")

    # system A: BM25 (the bm25_topk scoring verbatim — micro-quantized
    # per-term partials, BIGINT per-doc sum)
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    den = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    score_q = F.floor(
        idf * (F.col("tf") * F.lit(k1 + 1.0)) / den * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    bm = (
        qtf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", score_q.alias("sq"))
        .groupBy("doc_id")
        .agg(F.sum("sq").cast("long").alias("s_q"))
    )
    rw_a = Window.orderBy(F.desc("s_q"), F.asc("doc_id"))
    top_a = (
        bm.orderBy(F.desc("s_q"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rk_a", F.row_number().over(rw_a).cast("long"))
        .select("doc_id", "rk_a")
    )

    # system B: query-term overlap — integers only
    ov = qtf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_match"),
        F.sum("tf").cast("long").alias("tf_sum"),
    )
    rw_b = Window.orderBy(F.desc("n_match"), F.desc("tf_sum"), F.asc("doc_id"))
    top_b = (
        ov.orderBy(F.desc("n_match"), F.desc("tf_sum"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rk_b", F.row_number().over(rw_b).cast("long"))
        .select("doc_id", "rk_b")
    )

    fused = (
        top_a.join(top_b, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("rk_a", F.lit(0)).cast("long").alias("bm25_rk"),
            F.coalesce("rk_b", F.lit(0)).cast("long").alias("overlap_rk"),
        )
        .withColumn(
            "rrf_u",
            (
                F.when(
                    F.col("bm25_rk") > 0,
                    F.expr(f"1000000000 div ({rrf_k} + bm25_rk)"),
                ).otherwise(F.lit(0))
                + F.when(
                    F.col("overlap_rk") > 0,
                    F.expr(f"1000000000 div ({rrf_k} + overlap_rk)"),
                ).otherwise(F.lit(0))
            ).cast("long"),
        )
    )
    fw = Window.orderBy(F.desc("rrf_u"), F.asc("doc_id"))
    return fused.withColumn("fused_rk", F.row_number().over(fw).cast("long"))


def bpe_merges(docs: DataFrame, k: int = 4, text_col: str = "text") -> DataFrame:
    """BPE tokenizer induction (Sennrich et al. 2016): learn the first k
    merge rules over the corpus, exactly as the standard trainers do —
    count words ONCE, then iterate on the distinct-word table (the state
    is vocabulary-bounded, never corpus-bounded; the corpus-sized pass is
    only the initial word count).

    Per round: adjacent symbol pairs weighted by word frequency → one
    aggregate; winner = (count desc, left asc, right asc) top-1 via
    TakeOrderedAndProject; the merge applies as a LEFT-TO-RIGHT GREEDY
    string fold over each word's '|'-delimited symbol string
    (`F.aggregate`): append-without-delimiter when the previous symbol is
    exactly `left` and the next is `right` — ends_with('|'+left) encodes
    "previous symbol == left" because symbols never contain '|', and a
    just-merged symbol (left||right != left) can't re-merge, which is
    precisely BPE's non-overlapping greedy semantics ('b b b' under
    (b,b) → 'bb b'). The state is pinned per round (iterative-loop house
    rule). Output: (round, left_tok, right_tok, n) — the merge table.

    Scale: word count is one shuffle over the corpus; every round after
    is an aggregate + broadcast top-1 + map-side fold over the vocabulary
    frame. Exactly oracle-able: the fold unrolls round-for-round in
    DuckDB's list_reduce.
    """
    words = (
        ensure_parallelism(docs.select(F.col(text_col)))
        .select(F.explode(tokens_col(text_col)).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substring(F.col("w"), i, F.lit(1)),
    )
    st = words.select(
        "w",
        "freq",
        F.concat(F.lit("|"), F.array_join(chars, "|")).alias("s"),
    ).localCheckpoint()

    out = None
    for r in range(1, k + 1):
        tk = F.filter(F.split(F.col("s"), r"\|"), lambda x: x != "")
        # sequence(1, 0) in Spark is the DESCENDING [1, 0] — guard sub-2
        # symbol words to an empty pair list explicitly
        pairs_arr = F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.struct(
                    F.element_at(tk, i).alias("lt"),
                    F.element_at(tk, i + 1).alias("rt"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<lt:string,rt:string>>"))
        top1 = (
            st.select("freq", F.explode(pairs_arr).alias("p"))
            .groupBy(F.col("p.lt").alias("lt"), F.col("p.rt").alias("rt"))
            .agg(F.sum("freq").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("lt"), F.asc("rt"))
            .limit(1)
            .localCheckpoint()  # referenced by the merge AND the output
        )
        fold = F.aggregate(
            tk,
            F.lit(""),
            lambda acc, x: F.when(
                (x == F.col("rt"))
                & acc.endswith(F.concat(F.lit("|"), F.col("lt"))),
                F.concat(acc, x),
            ).otherwise(F.concat(acc, F.lit("|"), x)),
        )
        st = (
            st.crossJoin(F.broadcast(top1.select("lt", "rt")))
            .select("w", "freq", fold.alias("s"))
            .localCheckpoint()
        )
        row = top1.select(
            F.lit(r).cast("long").alias("round"),
            F.col("lt").alias("left_tok"),
            F.col("rt").alias("right_tok"),
            "n",
        )
        out = row if out is None else out.unionAll(row)
    return out


def textrank_keywords(
    docs: DataFrame,
    k: int = 30,
    window: int = 2,
    iterations: int = 8,
    text_col: str = "text",
    stopwords: list[str] | None = None,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) — the
    graph-ranking counterpart of RAKE: non-stopword tokens are nodes,
    co-occurrence within ``window`` positions is an (undirected, count-
    weighted) edge, and keywords are the top-``k`` words by weighted
    PageRank over that graph.

    Reuses the fixed-iteration weighted ``pagerank`` operator (one groupBy
    contribution sum per round, localCheckpoint-flattened lineage,
    count-free loop), so the recurrence — and its unrolled DuckDB oracle — is the
    kg_pagerank_weighted one; only the edge construction is new. Ranking
    happens on the 4dp-ROUNDED rank_norm (token tiebreak) so both
    engines share the selection order.

    Scale shape: one posexplode corpus pass, a per-doc positional range
    self-join whose fan-out is bounded by ``window`` (never a cross
    join), one vocab-bounded edge aggregate, then the pagerank loop on a
    graph no larger than the vocabulary. The filtered token frame is
    pinned — both halves of the positional join read it.
    """
    from ..operators.graph_analytics import pagerank

    sw = list(stopwords) if stopwords is not None else list(_EN_STOPWORDS)
    toks = tokens_col(text_col)
    ex = ensure_parallelism(docs.select("doc_id", F.col(text_col))).select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )
    ns = ex.where(
        (~F.col("tok").isin(sw)) & (F.col("tok") != "")
    ).localCheckpoint(eager=True)
    a = ns.select("doc_id", F.col("pos").alias("pa"), F.col("tok").alias("ta"))
    b = ns.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pb"),
        F.col("tok").alias("tb"),
    )
    pairs = a.join(
        b,
        (F.col("doc_id") == F.col("doc_b"))
        & (F.col("pb") > F.col("pa"))
        & (F.col("pb") <= F.col("pa") + F.lit(int(window)))
        & (F.col("ta") != F.col("tb")),
    )
    we = pairs.groupBy(
        F.least("ta", "tb").alias("a"), F.greatest("ta", "tb").alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("wt"))
    pr = pagerank(we, iterations=int(iterations), weight_col="wt")
    return (
        pr.orderBy(F.desc("rank_norm"), F.asc("name"))
        .limit(int(k))
        .select(F.col("name").alias("word"), "rank_norm")
    )


def keyness_chi2(
    docs: DataFrame,
    is_focus: Column,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-keyness χ² (the log-free twin of Dunning log-likelihood
    keyness): for every term, the 2×2 association between term occurrence
    and corpus half (focus vs reference, split by ``is_focus``), ranked by
    χ² — the 'what words characterize THIS slice' curation screen.

        χ² = N(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))

    where a = term count in focus, b = in reference, c/d the remaining
    token masses. All counts exact BIGINTs; (ad − bc) stays BIGINT and
    is cast to double before squaring (its square can exceed int64); the
    4-factor denominator multiplies as doubles pairwise in fixed order.
    The ranking happens on the ×1000-quantized BIGINT (term tiebreak),
    so top-k selection is engine-exact; enrichment direction is a pure
    integer cross-multiplication a·N_ref vs b·N_focus.

    Scale shape: one token explode + one vocab-bounded aggregate, a
    2-row totals broadcast, TakeOrderedAndProject for the top-k.
    """
    toks = tokens_col(text_col)
    tf = (
        ensure_parallelism(docs.select(is_focus.cast("int").alias("f"), F.col(text_col)))
        .select("f", F.explode(toks).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(
            F.sum("f").cast("long").alias("a"),
            F.sum(F.lit(1) - F.col("f")).cast("long").alias("b"),
        )
        .localCheckpoint(eager=True)
    )
    tot = tf.agg(
        F.sum("a").cast("long").alias("na"), F.sum("b").cast("long").alias("nb")
    )
    j = tf.crossJoin(F.broadcast(tot))
    c = (F.col("na") - F.col("a")).cast("long")
    d = (F.col("nb") - F.col("b")).cast("long")
    num0 = (F.col("a") * d - F.col("b") * c).cast("double")
    nn = (F.col("na") + F.col("nb")).cast("double")
    den = (
        ((F.col("a") + F.col("b")).cast("double") * (c + d).cast("double"))
        * (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    chi2 = nn * (num0 * num0) / den
    scored = j.select(
        "tok",
        "a",
        "b",
        F.when(
            F.col("a") * F.col("nb") > F.col("b") * F.col("na"),
            F.lit("focus"),
        )
        .otherwise(F.lit("reference"))
        .alias("enriched"),
        F.floor(chi2 * F.lit(1000.0) + F.lit(0.5)).cast("long").alias("chi2_q"),
    )
    return (
        scored.orderBy(F.desc("chi2_q"), F.asc("tok"))
        .limit(int(k))
        .select(
            "tok",
            "a",
            "b",
            "enriched",
            (F.col("chi2_q") / F.lit(1000.0)).alias("chi2"),
        )
    )


def term_burstiness(
    docs: DataFrame, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Term burstiness (Church & Gale): the Fano factor var/mean of a
    term's per-document count, over ALL documents (zeros included) — a
    bursty term (names, topics) clumps into few documents; a function
    word spreads evenly (Fano ≈ dispersion 1). The content-word screen
    that needs no stopword list.

    With D docs, total t = Σc and sq = Σc² (exact BIGINTs over the
    term's observed cells — zero cells contribute zero to both):
    Fano = population-var/mean = (D·sq − t²) / (D·t), ONE floor-
    quantized division of exact BIGINTs. Top-``k`` terms by document
    frequency (df DESC, term ASC — an integer-deterministic selection).
    """
    toks = tokens_col(text_col)
    n_docs = docs.count()
    cells = (
        ensure_parallelism(docs.select("doc_id", F.col(text_col)))
        .select("doc_id", F.explode(toks).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    g = cells.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
    )
    dd = F.lit(int(n_docs)).cast("long")
    fano = (dd * F.col("sq") - F.col("total") * F.col("total")).cast(
        "double"
    ) / (dd * F.col("total")).cast("double")
    return (
        g.orderBy(F.desc("df"), F.asc("tok"))
        .limit(int(k))
        .select(
            "tok",
            "df",
            "total",
            (
                F.floor(fano * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
            ).alias("fano"),
        )
    )


def burrows_delta(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Burrows' Delta (2002) stylometric distance between every pair of
    sources: z-score each source's relative frequency of the corpus's top-k
    words (mean/sd across sources), Delta = mean |z_a - z_b| over the k
    words — the standard authorship / provenance-drift screen.

    Exactness discipline: each relative frequency is ONE division of exact
    BIGINTs, then MICRO-QUANTIZED to BIGINT (floor(f*1e6 + 0.5) — 1e9
    units would put f9^2 sums at the int64 edge when one word dominates a
    source) so the
    cross-source mean/sd moments are exact integers; each |z_a - z_b| is a
    fixed-order double micro-quantized to BIGINT 1e-6 units BEFORE the
    cross-word sum (the events_anova convention). Delta is one final
    division. Output: (s1, s2, delta) unquantized.

    Scale shape: one (source, word) aggregate; the top-k dim is
    TakeOrderedAndProject-broadcast; pairs are |sources|^2 x k tiny rows.
    """
    from .textfns import tokens_col

    tf = (
        ensure_parallelism(docs.select(F.col(group_col).alias("s"), F.col(text_col)))
        .select("s", F.explode(tokens_col(text_col)).alias("t"))
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)  # read 3x: top-k dim, totals, cells
    )
    topk = (
        tf.groupBy("t")
        .agg(F.sum("c").cast("long").alias("ct"))
        .orderBy(F.desc("ct"), F.asc("t"))
        .limit(k)
        .select("t")
    )
    totals = tf.groupBy("s").agg(F.sum("c").cast("long").alias("n_s"))
    # dense (source x top-k word) grid so absent words count as f = 0
    grid = totals.crossJoin(F.broadcast(topk))
    cells = grid.join(tf, ["s", "t"], "left").select(
        "s",
        "t",
        F.floor(
            F.coalesce(F.col("c"), F.lit(0)).cast("double")
            / F.col("n_s").cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("f9"),
    )
    stats = cells.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("f9").cast("long").alias("sf"),
        F.sum(F.col("f9") * F.col("f9")).cast("long").alias("sff"),
    )
    z = cells.join(stats, "t").select(
        "s",
        "t",
        (
            (
                F.col("f9").cast("double")
                - F.col("sf").cast("double") / F.col("m").cast("double")
            )
            / F.sqrt(
                (
                    F.col("m") * F.col("sff") - F.col("sf") * F.col("sf")
                ).cast("double")
                / (
                    F.col("m").cast("double")
                    * (F.col("m").cast("double") - F.lit(1.0))
                )
            )
        ).alias("z"),
    ).localCheckpoint(eager=True)  # both pair-join sides read it
    a = z.select(F.col("s").alias("s1"), "t", F.col("z").alias("z1"))
    b = z.select(F.col("s").alias("s2"), "t", F.col("z").alias("z2"))
    pairs = a.join(b, "t").where(F.col("s1") < F.col("s2"))
    micro = pairs.select(
        "s1",
        "s2",
        F.floor(
            F.abs(F.col("z1") - F.col("z2")) * F.lit(1000000.0) + F.lit(0.5)
        )
        .cast("long")
        .alias("dz6"),
    )
    g = micro.groupBy("s1", "s2").agg(
        F.count(F.lit(1)).cast("long").alias("__k"),
        F.sum("dz6").cast("long").alias("__sdz"),
    )
    return g.select(
        "s1",
        "s2",
        (
            F.col("__sdz").cast("double")
            / F.lit(1000000.0)
            / F.col("__k").cast("double")
        ).alias("delta"),
    )
