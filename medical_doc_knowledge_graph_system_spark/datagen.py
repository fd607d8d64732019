"""Deterministic synthetic Common-Crawl-style pages table.

Shape per BASELINE.json input_hint:
    (url: string, warc_ts: timestamp, html: binary, text: string, lang: string)

Properties engineered for the pipeline under test:
  * sentences embed gazetteer surface forms (canonical names AND
    abbreviations/aliases) so extraction + resolution have real work;
  * a Zipf-skewed head entity dominates mentions (exercises partial
    aggregation, salted joins and AQE skew handling, BASELINE.json
    north_rule);
  * ~20%% of pages carry html only (text = NULL) to exercise the
    boilerplate-strip path;
  * per-page RNG seeded by (seed, page index) — rows are reproducible
    independent of generation order or partitioning.
"""

from __future__ import annotations

import datetime as dt
import random

from .corelib.gazetteer import ALIASES, GAZETTEER

_FILLER = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo"
).split()

_LANGS = ["en", "en", "en", "en", "es", "de", "fr", "zh"]

_HEAD_ENTITY = "Hypertension"  # Zipf head: appears in most pages

# open-vocabulary material: synthetic names built stem+stem+suffix so the
# corelib.ner suffix classifier labels them and the dictionary grows with
# the corpus (the reference's LLM extractor is open-vocabulary). Every even
# index is a base form, every odd index its near-variant (extra 'o' before
# the suffix) — fuzzy resolution must merge the pair, giving the distributed
# LSH+CC path real work.
_NOVEL_STEMS = [
    "card", "vex", "zilor", "mentra", "talvo", "brunex", "xanthe", "polda",
    "drev", "fenix", "qorim", "lumen", "vastra", "nortel", "galdo", "rivex",
]
_NOVEL_SUFFIXES = ["pril", "statin", "olol", "azole", "itis", "osis", "emia", "oscopy"]


def novel_pool(n: int) -> list[str]:
    """First n deterministic novel entity names (base/variant interleaved)."""
    out: list[str] = []
    j = 0
    while len(out) < n:
        s1 = _NOVEL_STEMS[j % len(_NOVEL_STEMS)]
        s2 = _NOVEL_STEMS[(j // len(_NOVEL_STEMS)) % len(_NOVEL_STEMS)]
        suf = _NOVEL_SUFFIXES[j % len(_NOVEL_SUFFIXES)]
        out.append((s1 + s2 + suf).capitalize())
        if len(out) < n:
            out.append((s1 + s2 + "o" + suf).capitalize())
        j += 1
    return out[:n]


def _surfaces() -> list[str]:
    # canonical names + alias spellings, stable order
    return sorted(GAZETTEER) + sorted(ALIASES)


def page_row(i: int, seed: int = 42, novel_vocab: int = 0) -> dict:
    rng = random.Random(f"{seed}|{i}")
    surfaces = _surfaces()
    paras = []
    n_paras = rng.randint(2, 5)
    for _ in range(n_paras):
        sents = []
        for _ in range(rng.randint(3, 8)):
            words = [rng.choice(_FILLER) for _ in range(rng.randint(4, 10))]
            n_ents = rng.randint(0, 3)
            for _ in range(n_ents):
                # Zipf-ish head skew: 35% of entity slots are the head entity
                surf = _HEAD_ENTITY if rng.random() < 0.35 else rng.choice(surfaces)
                words.insert(rng.randint(0, len(words)), surf)
            sents.append(" ".join(words).capitalize() + ".")
        paras.append(" ".join(sents))
    if novel_vocab > 0:
        # appended AFTER the base text so novel_vocab=0 rows stay byte-identical
        pool = novel_pool(novel_vocab)
        extra = [
            f"Treatment with {rng.choice(pool)} was recorded alongside {rng.choice(pool)}."
            for _ in range(rng.randint(1, 3))
        ]
        paras.append(" ".join(extra))
    body = "\n\n".join(paras)

    url = f"https://site{i % 997:03d}.example.com/page/{i}"
    ts = dt.datetime(2025, 1, 1) + dt.timedelta(seconds=i)
    lang = rng.choice(_LANGS)

    if rng.random() < 0.2:
        # html-only page: text NULL, boilerplate-wrapped html
        html = (
            "<html><head><script>var x=1;</script><style>.a{}</style></head>"
            "<body><nav>home | about</nav>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "<footer>&copy; 2025 example</footer></body></html>"
        )
        return {"url": url, "warc_ts": ts, "html": html.encode(), "text": None, "lang": lang}
    return {"url": url, "warc_ts": ts, "html": None, "text": body, "lang": lang}


def gen_pages(n: int, seed: int = 42, novel_vocab: int = 0) -> list[dict]:
    return [page_row(i, seed, novel_vocab) for i in range(n)]


PAGES_FOR_SF = {0.001: 200, 0.01: 2000, 0.1: 20000}


def write_pages_parquet(path: str, n: int, seed: int = 42, novel_vocab: int = 0) -> None:
    """Write the pages table as parquet with pyarrow (no Spark needed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_pages(n, seed, novel_vocab)
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path)


def write_pages_parquet_spark(
    spark, path: str, n: int, seed: int = 42, novel_vocab: int = 0
) -> None:
    """Parallel page generation via Spark (for large scaling inputs):
    spark.range -> mapInPandas(page_row) -> parquet. Row i is identical to
    write_pages_parquet's row i (page_row is seeded per index)."""
    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows = [page_row(int(i), seed, novel_vocab) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    (
        spark.range(n)
        .repartition(max(spark.sparkContext.defaultParallelism, 8))
        .mapInPandas(gen, schema=schema)
        .write.mode("overwrite")
        .parquet(path)
    )
