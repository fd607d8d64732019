"""Text-analysis functions over a documents table — all pure Catalyst
column expressions (JVM-side, whole-stage codegen; no Python in the hot
path), each with an exact ANSI-SQL oracle equivalent.

Operators: token counting, quality scoring, language-ID heuristic, document
fingerprinting (SURVEY 'training-data pipeline' additions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker lists for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}

_EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens_col(text_col: str = "text"):
    """Single-space tokenization of trimmed, lowercased text (literal ' '
    split — matches DuckDB string_split exactly, including empty tokens on
    double spaces, so oracles compare bit-for-bit)."""
    return F.split(F.lower(F.trim(F.col(text_col))), " ")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """token_count, distinct_token_count, avg_token_len (rounded 4dp)."""
    toks = tokens_col(text_col)
    return df.select(
        "doc_id",
        F.size(toks).alias("token_count"),
        F.size(F.array_distinct(toks)).alias("distinct_token_count"),
        F.round(
            F.length(F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", ""))
            / F.size(toks),
            4,
        ).alias("avg_token_len"),
    )


def quality_cols(text_col: str = "text") -> dict:
    """The quality-heuristic component columns, shared by with_quality_score
    and the curation job (single source of the formula — never fork it)."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(_EN_STOPWORDS))) / n
    txt = F.lower(F.trim(F.col(text_col)))
    alpha_ratio = F.length(F.regexp_replace(txt, "[^a-z]", "")) / F.length(txt)
    score = (
        F.lit(0.4) * F.least(n / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * F.least(stop_ratio * 2.0, F.lit(1.0))
        + F.lit(0.3) * alpha_ratio
    )
    return {
        "token_count": n,
        "stopword_ratio": stop_ratio,
        "alpha_ratio": alpha_ratio,
        "quality_score": score,
    }


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/stopword/alpha-ratio quality heuristic in [0,1].

    score = 0.4*min(token_count/100, 1) + 0.3*stopword_ratio_norm +
            0.3*alpha_ratio; all components deterministic column exprs.
    """
    q = quality_cols(text_col)
    return df.select(
        "doc_id",
        F.col("n_chars"),
        q["token_count"].alias("token_count"),
        F.round(q["stopword_ratio"], 4).alias("stopword_ratio"),
        F.round(q["alpha_ratio"], 4).alias("alpha_ratio"),
        F.round(q["quality_score"], 4).alias("quality_score"),
    )


def lang_score_cols(text_col: str = "text") -> dict:
    """Per-language marker-hit-count columns keyed by language code."""
    toks = tokens_col(text_col)

    def _marker_filter(markers: list[str]):
        # NB: F.filter treats a 2-arg lambda as (element, index) — a default
        # arg would be bound to the index column; close over markers instead.
        return lambda t: t.isin(markers)

    return {
        lang: F.size(F.filter(toks, _marker_filter(markers)))
        for lang, markers in sorted(LANG_MARKERS.items())
    }


def lang_argmax(score_by_lang: dict) -> Column:
    """Deterministic argmax over language scores ('und' when all zero;
    tiebreak by language code ascending). Shared by with_lang_guess and the
    curation job — single source of the tiebreak rule."""
    langs = sorted(score_by_lang)
    pairs = F.array(
        *[
            F.struct(
                score_by_lang[lg].alias("s"),
                F.lit(len(langs) - i).alias("prio"),
                F.lit(lg).alias("lg"),
            )
            for i, lg in enumerate(langs)
        ]
    )
    best = F.array_max(pairs)
    return F.when(best["s"] > 0, best["lg"]).otherwise(F.lit("und"))


def with_lang_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language-ID heuristic: argmax over per-language
    marker hit counts, 'und' (undetermined) when all zero. Deterministic
    tie-break by language code ascending."""
    scores = lang_score_cols(text_col)
    scored = df.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        *[c.alias(f"score_{lg}") for lg, c in scores.items()],
    )
    langs = sorted(LANG_MARKERS)
    return scored.select(
        "doc_id",
        "lang_actual",
        lang_argmax({lg: F.col(f"score_{lg}") for lg in langs}).alias("lang_guess"),
        *[F.col(f"score_{lg}") for lg in langs],
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized document fingerprint: md5 over the sorted distinct token
    set (shingle-set hash — robust to token order, like a sorted n-gram
    fingerprint). md5 is identical in Spark and DuckDB, so exact-oracle-able."""
    toks = tokens_col(text_col)
    return df.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.sort_array(F.array_distinct(toks)))).alias("fingerprint"),
    )


def _ngrams_col(toks, n: int):
    """Order-sensitive word n-grams of a token array as 'w1 w2 ... wn'
    strings; empty array when the doc has fewer than n tokens (guarded —
    F.sequence(0, negative) would otherwise count DOWN and fabricate grams).

    Deliberately NOT dedup.shingles_col: that one is a distinct SET and keeps
    one partial shingle for short docs (MinHash needs a non-empty set); the
    repetition/decontam rules need the full ordered multiset and no partial
    windows. Same slice+concat_ws construction, different window policy —
    each has its own exact DuckDB oracle, so keep the two semantics separate."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def with_repetition(
    df: DataFrame, n: int = 2, threshold: float = 0.2, text_col: str = "text"
) -> DataFrame:
    """Within-document repetition filter (the Gopher quality rule: drop docs
    whose text is dominated by repeated n-grams — boilerplate, listicles,
    keyword stuffing). dup_ngram_frac = 1 - distinct_ngrams/total_ngrams over
    order-sensitive word n-grams; flag_repetitive when above `threshold`.
    Pure per-doc column expressions: no shuffle, scales linearly.
    Reference analogue: the quality gates before chunking
    (app/ingestion/chunker.py filters empty/whitespace chunks); this is the
    corpus-curation generalization a 100 TB training pipeline needs."""
    # bind the split token array once per doc (see corpusstats.ngram_topk)
    grams = F.transform(
        F.array(tokens_col(text_col)), lambda toks: _ngrams_col(toks, n)
    )[0]
    n_grams = F.size(grams)
    frac = F.when(
        n_grams > 0, F.round(F.lit(1.0) - F.size(F.array_distinct(grams)) / n_grams, 4)
    ).otherwise(F.lit(0.0))
    return df.select(
        "doc_id",
        n_grams.alias("n_ngrams"),
        frac.alias("dup_ngram_frac"),
        (frac > threshold).alias("flag_repetitive"),
    )


def ngram_decontam(df: DataFrame, n: int = 4, eval_mod: int = 50) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM n-gram overlap rule): flag
    training documents that share any word n-gram with the held-out eval set
    (here the deterministic eval split doc_id % eval_mod == 0). Returns
    (doc_id, n_shared_ngrams) for contaminated training docs only.

    Scale shape: the eval side of a real pipeline is a benchmark suite —
    thousands of grams against 100 TB of training text — so the distinct eval
    grams are the natural broadcast dimension; the training side explodes its
    DISTINCT grams map-side and the only shuffle is the final per-doc count.
    The broadcast is NOT forced: the modulo-derived eval split used by the
    gate fixture grows linearly with the corpus (eval_mod is a test-fixture
    parameter, not a bounded benchmark suite), so the join is left to
    AQE/autoBroadcastJoinThreshold — small eval sets still broadcast, an
    oversized one degrades to a shuffle join instead of OOMing executors."""
    # r6: the gram explode is CPU-heavy per-row map work on a scan that may
    # arrive as ONE split (single-row-group parquet) — spread it (guide
    # §2.5), and pin the exploded frame once: both the eval and training
    # sides read it (Catalyst reuses no lineage across the two references).
    from ..operators.skew import ensure_parallelism

    grams = (
        ensure_parallelism(df.select("doc_id", tokens_col().alias("__toks")))
        .select(
            "doc_id",
            F.explode(F.array_distinct(_ngrams_col(F.col("__toks"), n))).alias("gram"),
        )
        .localCheckpoint()
    )
    is_eval = F.col("doc_id") % eval_mod == 0
    eval_grams = grams.where(is_eval).select("gram").distinct()
    return (
        grams.where(~is_eval)
        .join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_ngrams"))
    )


def eval_suite_grams(eval_docs: DataFrame, n: int = 4) -> DataFrame:
    """Distinct word n-grams of a benchmark eval suite: the small, bounded
    table a production decontamination pass joins against. (gram)."""
    from ..operators.skew import ensure_parallelism

    return (
        ensure_parallelism(eval_docs.select(tokens_col().alias("__toks")))
        .select(
            F.explode(F.array_distinct(_ngrams_col(F.col("__toks"), n))).alias("gram")
        )
        .distinct()
    )


def ngram_decontam_against(
    df: DataFrame, eval_grams: DataFrame, n: int = 4
) -> DataFrame:
    """Decontamination against an EXPLICIT eval-suite gram table — the
    production shape (VERDICT r3 #7): a benchmark suite is 10^4-10^5 grams
    (a few MB) against 100 TB of training text, so Spark's planner picks a
    BroadcastHashJoin on the eval side from its size statistics alone (no
    hint needed — asserted by tests/test_plans.py), the training grams
    stream map-side through the broadcast membership probe, and the only
    shuffle is the final per-doc count. An oversized eval table degrades to
    a shuffle join instead of OOMing executors, same as ngram_decontam.
    Measured A/B at sf0.1 vs a 3e4-gram suite in BENCH.md."""
    from ..operators.skew import ensure_parallelism

    grams = ensure_parallelism(df.select("doc_id", tokens_col().alias("__toks"))).select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams_col(F.col("__toks"), n))).alias("gram"),
    )
    return (
        grams.join(eval_grams.select("gram").distinct(), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_ngrams"))
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation — the
# GPT-2 pre-tokenizer shape simplified to a character-class regex that parses
# identically in Java regex (Spark) and RE2 (DuckDB). The whitespace set is
# spelled out explicitly: shorthand \s differs between the dialects (Java
# includes vertical tab \x0b, RE2 does not), which would silently diverge
# on documents containing one.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\t\n\f\r\x0b ]"

# 2^40: acc*31 + tokhash stays far inside signed-63-bit on both engines
ROLLING_MOD = 1_099_511_627_776


def with_bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token count under the BPE-ish regex pre-tokenizer (subword pipelines
    count tokens this way, not by whitespace): (doc_id, bpe_token_count)."""
    return df.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))
        ).alias("bpe_token_count"),
    )


def with_rolling_hash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rabin-Karp polynomial fingerprint of the token STREAM — order-
    sensitive, unlike with_fingerprint's sorted-set hash, so documents with
    the same vocabulary in a different order fingerprint differently:
    acc := (acc*31 + tokhash) mod 2^40, folded left-to-right with
    F.aggregate (pure columns, partition-local)."""
    toks = tokens_col(text_col)

    def _tok_hash(t):
        return F.conv(F.substring(F.md5(t), 1, 10), 16, 10).cast("long")

    return df.select(
        "doc_id",
        F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: (acc * 31 + _tok_hash(t)) % F.lit(ROLLING_MOD),
        ).alias("rolling_hash"),
    )


# PII redaction patterns — deliberately RE2- AND java.util.regex-compatible
# (no backreferences, no lookaround), because the DuckDB oracle runs the
# SAME strings through RE2 while Spark runs them through Java regex. Order
# of application is fixed (emails first) so one rule's replacement token
# can never be half-eaten by a later rule.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,3}[- ]\d{3}[- ]\d{4}",
}


def with_pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction — the scrubbing pass a web-corpus training pipeline
    runs before anything is retained (emails / IPv4 addresses / E.164-ish
    phone numbers -> '<EMAIL>'/'<IPV4>'/'<PHONE>' placeholders), plus
    per-kind match counts from the ORIGINAL text for audit metrics.
    Output: (doc_id, n_email, n_ipv4, n_phone, scrubbed). Pure column
    expressions (regexp_extract_all / regexp_replace) — whole-stage
    codegen, no UDFs, embarrassingly parallel."""
    out = df.select("doc_id", F.col(text_col).alias("__t"))
    counts = [
        F.size(F.regexp_extract_all(F.col("__t"), F.lit(pat), F.lit(0)))
        .cast("long")
        .alias(f"n_{kind}")
        for kind, pat in PII_PATTERNS.items()
    ]
    scrub = F.col("__t")
    for kind, pat in PII_PATTERNS.items():
        scrub = F.regexp_replace(scrub, pat, f"<{kind.upper()}>")
    return out.select("doc_id", *counts, scrub.alias("scrubbed"))


def with_flesch(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease score per document — the classic readability
    signal corpus-quality pipelines bucket on (very low = garbled/legal
    boilerplate, very high = telegraphic spam). Syllables are approximated
    as vowel-group runs ([aeiouy]+, min 1 per token) and sentences as
    [.!?]+ punctuation runs (min 1 per doc) — both deterministic regex
    counts shared verbatim with the DuckDB oracle.

    Float parity: word/sentence/syllable counts are exact BIGINTs; the
    score 206.835 - 1.015*(W/S) - 84.6*(SY/W) is ONE closed-form double
    with identical operand shapes on both engines, and the readability
    band thresholds compare the 4dp-ROUNDED score so both engines bucket
    identically. Embarrassingly parallel scan: no shuffle, no UDFs."""
    toks = tokens_col(text_col)
    w = F.size(toks).cast("long")
    s = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), F.lit(0))).cast(
            "long"
        ),
    )
    syl = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.greatest(
            F.lit(1).cast("long"),
            F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), F.lit(0))).cast("long"),
        ),
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("word_count") * F.lit(1.0) / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables") * F.lit(1.0) / F.col("word_count"))
    )
    base = df.select(
        "doc_id",
        w.alias("word_count"),
        s.alias("n_sentences"),
        syl.alias("n_syllables"),
    ).withColumn("flesch", F.round(score, 4))
    return base.select(
        "doc_id",
        "word_count",
        "n_sentences",
        "n_syllables",
        "flesch",
        F.when(F.col("flesch") >= 90.0, F.lit("very_easy"))
        .when(F.col("flesch") >= 60.0, F.lit("standard"))
        .when(F.col("flesch") >= 30.0, F.lit("difficult"))
        .otherwise(F.lit("very_confusing"))
        .alias("band"),
    )


def with_ari_cli(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Automated Readability Index + Coleman-Liau Index per document — the
    two LOG-FREE character-level readability formulas (Flesch's syllable
    approximation is the noisy part; ARI/CLI need only character, word and
    sentence counts, which is why curation pipelines prefer them at scale).

      ARI = 4.71*(chars/words) + 0.5*(words/sentences) - 21.43
      CLI = 0.0588*L - 0.296*S - 15.8   (L = chars/words*100,
                                          S = sentences/words*100)

    chars counts alphanumerics only ([a-z0-9] over the lowered text —
    shared verbatim with the oracle); words/sentences follow the
    with_flesch conventions. All counts exact BIGINTs; each score is ONE
    closed-form double whose decimal literals round-trip identically on
    both engines. Embarrassingly parallel scan: no shuffle, no UDFs."""
    toks = tokens_col(text_col)
    w = F.size(toks).cast("long")
    s = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), F.lit(0))).cast(
            "long"
        ),
    )
    ch = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]"), F.lit(0))
    ).cast("long")
    base = df.select(
        "doc_id",
        ch.alias("n_alnum"),
        w.alias("word_count"),
        s.alias("n_sentences"),
    )
    ari = (
        F.lit(4.71) * (F.col("n_alnum") * F.lit(1.0) / F.col("word_count"))
        + F.lit(0.5) * (F.col("word_count") * F.lit(1.0) / F.col("n_sentences"))
        - F.lit(21.43)
    )
    cli = (
        F.lit(0.0588)
        * (F.col("n_alnum") * F.lit(100.0) / F.col("word_count"))
        - F.lit(0.296)
        * (F.col("n_sentences") * F.lit(100.0) / F.col("word_count"))
        - F.lit(15.8)
    )
    # floor-quantize to 4dp instead of round(): round() half-boundary
    # behavior differs across engines on values like 28.3537499...;
    # floor(x*1e4 + 0.5) is the SAME double expression on both, so the
    # quantized value is bit-identical by construction.
    return base.select(
        "doc_id",
        "n_alnum",
        "word_count",
        "n_sentences",
        (F.floor(ari * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "ari"
        ),
        (F.floor(cli * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "cli"
        ),
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", scale: int = 100000
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats) — the
    repetition/diversity quality signal (near-zero entropy = keyword
    stuffing / boilerplate loops; CCNet-style pipelines filter on it).

    H = ln(N) - (1/N) * sum_t c_t ln(c_t) over token counts c_t. Float
    parity (CLAUDE.md invariant #3): each ln(c_t) is floor-quantized to a
    BIGINT (`sum_clnc` = sum of c * floor(ln(c)*scale) is order-free exact
    integer arithmetic), so the per-doc entropy is ONE closed-form double
    ln(N) - sum_clnc/(N*scale) over exact BIGINTs — the doc_lm_scores
    pattern.

    Scale shape: explode -> ONE algebraic groupBy on (doc_id, token) with
    map-side partials, then a per-doc algebraic agg. No UDFs, no windows.
    """
    toks = tokens_col(text_col)
    counts = (
        df.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(
            F.col("c")
            * F.floor(F.log(F.col("c").cast("double")) * F.lit(float(scale))).cast(
                "long"
            )
        )
        .cast("long")
        .alias("sum_clnc"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "sum_clnc",
        F.round(
            F.log(F.col("n_tokens").cast("double"))
            - F.col("sum_clnc") / (F.col("n_tokens") * F.lit(float(scale))),
            4,
        ).alias("entropy_nats"),
    )


# Gopher-rule stopwords (Rae et al. 2021 use a fixed 8-word list; same idea
# here, kept tiny and shared verbatim with the DuckDB oracle).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rule_cols(text_col: str = "text") -> dict:
    """Component columns for the Gopher-style hard quality filter (Rae et
    al. 2021 §A1.1; reference analog: the corpus-curation keep/drop pass).
    All pure Catalyst expressions; each ratio is count/word_count computed
    with the SAME operand shapes as the SQL oracle so boundary comparisons
    (e.g. mean_word_len >= 3.0) evaluate on bit-identical doubles."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    nonspace = F.length(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", "")
    )
    mean_word_len = nonspace * F.lit(1.0) / n
    alpha_frac = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) * F.lit(1.0) / n
    symbol_frac = (
        F.size(F.filter(toks, lambda t: t.contains("#") | t.endswith("...")))
        * F.lit(1.0)
        / n
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )
    return {
        "word_count": n,
        "mean_word_len": mean_word_len,
        "alpha_word_frac": alpha_frac,
        "symbol_word_frac": symbol_frac,
        "stop_hits": stop_hits,
    }


def with_gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    max_symbol_frac: float = 0.1,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style hard document filter: per-rule boolean flags plus the
    final keep decision (AND of all flags). Unlike with_quality_score (a
    soft score), this is the reject-with-reasons pass — the flags are the
    audit trail a curation pipeline keeps per dropped doc. Embarrassingly
    parallel scan; no shuffle, no UDFs."""
    g = gopher_rule_cols(text_col)
    flag_words = (g["word_count"] >= min_words) & (g["word_count"] <= max_words)
    flag_len = (g["mean_word_len"] >= min_mean_word_len) & (
        g["mean_word_len"] <= max_mean_word_len
    )
    flag_alpha = g["alpha_word_frac"] >= min_alpha_frac
    flag_symbol = g["symbol_word_frac"] <= max_symbol_frac
    flag_stop = g["stop_hits"] >= min_stop_hits
    return df.select(
        "doc_id",
        g["word_count"].alias("word_count"),
        F.round(g["mean_word_len"], 4).alias("mean_word_len"),
        F.round(g["alpha_word_frac"], 4).alias("alpha_word_frac"),
        F.round(g["symbol_word_frac"], 4).alias("symbol_word_frac"),
        g["stop_hits"].alias("stop_hits"),
        flag_words.alias("flag_words"),
        flag_len.alias("flag_mean_len"),
        flag_alpha.alias("flag_alpha"),
        flag_symbol.alias("flag_symbol"),
        flag_stop.alias("flag_stop"),
        (flag_words & flag_len & flag_alpha & flag_symbol & flag_stop).alias("keep"),
    )


def with_code_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Code-vs-prose heuristic per document — the curation classifier that
    routes source code out of a prose corpus. Signals are pure regex
    census counts over the raw text (shared verbatim with the oracle):

      sym_ratio   = code punctuation ({}();=[]<>#) / non-space chars
      digit_ratio = digits / non-space chars

    code_score = 1000000·(3·sym + 2·digit) in exact integer micro-units
    via cross-multiplication-free quantization: each ratio is ONE double
    division of exact BIGINTs, the weighted sum uses integer literal
    weights, and is_code compares the floor-quantized score against the
    integer threshold — no float comparison anywhere.
    """
    nonspace = F.length(F.regexp_replace(F.col(text_col), " ", "")).cast(
        "long"
    )
    syms = F.size(
        F.regexp_extract_all(
            F.col(text_col), F.lit("[{}();=\\[\\]<>#]"), F.lit(0)
        )
    ).cast("long")
    digits = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit("[0-9]"), F.lit(0))
    ).cast("long")
    base = df.select(
        "doc_id",
        nonspace.alias("n_chars_ns"),
        syms.alias("n_sym"),
        digits.alias("n_digit"),
    ).where(F.col("n_chars_ns") > 0)
    score = (
        F.lit(3.0) * (F.col("n_sym").cast("double") / F.col("n_chars_ns").cast("double"))
        + F.lit(2.0)
        * (F.col("n_digit").cast("double") / F.col("n_chars_ns").cast("double"))
    )
    score_q = F.floor(score * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    return base.select(
        "doc_id",
        "n_chars_ns",
        "n_sym",
        "n_digit",
        score_q.alias("code_score_q"),
        (score_q >= F.lit(150000)).alias("is_codelike"),
    )


def with_yule_k(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Yule's characteristic K per document — the classic vocabulary-richness
    / repetitiveness statistic (Yule 1944), a curation quality signal that,
    unlike TTR, is length-invariant in expectation:

        K = 10^4 * (sum_types freq^2 - N) / N^2

    (equivalently 10^4 * (sum_m m^2 V(m) - N)/N^2 over the frequency
    spectrum). Pure BIGINT moments from one (doc, token) count aggregate +
    ONE closed-form double. Output: (doc_id, n_tokens, yule_k) unquantized.

    Scale shape: explode + two hash aggregates, map-side combinable; no
    windows, no Python."""
    tf = (
        df.select("doc_id", F.explode(tokens_col(text_col)).alias("__t"))
        .groupBy("doc_id", "__t")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    g = tf.groupBy("doc_id").agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__s2"),
    )
    return g.select(
        "doc_id",
        "n_tokens",
        (
            F.lit(10000.0)
            * (F.col("__s2") - F.col("n_tokens")).cast("double")
            / (F.col("n_tokens") * F.col("n_tokens")).cast("double")
        ).alias("yule_k"),
    )


def with_msttr(
    df: DataFrame, text_col: str = "text", seg: int = 25
) -> DataFrame:
    """Mean Segmental Type-Token Ratio (MSTTR): split each document's token
    stream into consecutive COMPLETE seg-token segments (the trailing
    partial segment is dropped — the standard definition, which is what
    makes MSTTR comparable across lengths), take each segment's
    distinct-type count, and average the per-segment TTRs.

    Exactness: every per-segment TTR has the same denominator seg, so the
    mean is the BIGINT rational sum(distinct)/(seg * n_segments) — ONE
    division. Documents with < seg tokens have no complete segment and are
    absent from the output. Output: (doc_id, n_segments, msttr)
    unquantized."""
    toks = df.select(
        "doc_id", F.posexplode(tokens_col(text_col)).alias("__p", "__t")
    )
    segs = (
        toks.groupBy(
            "doc_id", F.expr(f"__p div {seg}").alias("__s")
        )
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.countDistinct("__t").cast("long").alias("__d"),
        )
        .where(F.col("__n") == seg)
    )
    g = segs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("__d").cast("long").alias("__sd"),
    )
    return g.select(
        "doc_id",
        "n_segments",
        (
            F.col("__sd").cast("double")
            / (F.lit(seg) * F.col("n_segments")).cast("double")
        ).alias("msttr"),
    )
