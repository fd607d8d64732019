"""URL canonicalization: the normalization pass a crawl pipeline runs
before URL-level dedup / frontier dedup (the reason two fetches of the
same page don't become two documents).

Rules (the standard crawl-canonicalization set):
  1. drop the fragment (#...)
  2. lowercase scheme + host (ONLY — the path is case-sensitive)
  3. strip a leading "www."
  4. strip default ports (http :80, https :443)
  5. drop tracking query params (utm_*, fbclid, gclid) and empty params
  6. strip a single trailing slash from a non-root path

Everything is pure column expressions (no UDF) built from dialect-safe
primitives — literal replace(), regexp_extract with explicit groups,
split + filter + array_join — so the DuckDB oracle can express the SAME
steps verbatim (no capture-group replacement strings, whose syntax
differs between Java regex ($1) and RE2 (\\1)).

Reference analogue: none (the reference ingests file paths); this is the
web-corpus generalization of its per-document identity key
(app/ingestion/chunker.py's document_id), required at 10^12-page scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TRACKING_PREFIXES = ("utm_", "fbclid", "gclid")


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL column (see module docstring for the rules)."""
    u = F.regexp_replace(url, "#.*", "")  # 1. fragment
    head = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    rest = F.substring(u, F.length(head) + 1, F.lit(1 << 30))
    head = F.lower(head)  # 2. scheme + host only
    head = F.replace(head, F.lit("://www."), F.lit("://"))  # 3.
    head = (  # 4. default ports
        F.when(
            head.startswith("https://") & head.endswith(":443"),
            F.substring(head, 1, F.length(head) - 4),
        )
        .when(
            head.startswith("http://") & head.endswith(":80"),
            F.substring(head, 1, F.length(head) - 3),
        )
        .otherwise(head)
    )
    path = F.regexp_extract(rest, "^[^?]*", 0)
    query = F.when(
        F.length(rest) > F.length(path),
        F.substring(rest, F.length(path) + 2, F.lit(1 << 30)),
    ).otherwise(F.lit(""))
    kept = F.array_join(  # 5. tracking params out
        F.filter(
            F.split(query, "&"),
            lambda t: ~t.startswith("utm_")
            & ~t.startswith("fbclid")
            & ~t.startswith("gclid")
            & (t != ""),
        ),
        "&",
    )
    path = F.when(  # 6. trailing slash on non-root path
        path.endswith("/") & (F.length(path) > 1),
        F.substring(path, 1, F.length(path) - 1),
    ).otherwise(path)
    return F.concat(
        head, path, F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept))
    )
