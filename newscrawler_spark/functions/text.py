"""Scalar text functions — the reference's F1-F16 surface as Spark built-ins.

Everything here is a Column-in/Column-out expression (JVM-side, inside
whole-stage codegen); none of it needs a UDF. Reference citations per
function.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.sql import Column
from pyspark.sql import functions as F

# control chars stripped by the reference's _clean_text
# (/root/reference/utils/article_extractor.py:166-203)
_CTRL = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"


def clean_text(c: Column) -> Column:
    """F1: strip control chars, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.regexp_replace(c, _CTRL, ""), r"\s+", " "))


def summary_200(c: Column) -> Column:
    """F2: content[:200] + '...' if longer (article_extractor.py:350)."""
    return F.when(
        F.length(c) > 200, F.concat(F.substring(c, 1, 200), F.lit("..."))
    ).otherwise(c)


def keyword_predicate(keywords: list[str], cols: list[str]) -> Column:
    """F3: whole-word case-insensitive multi-keyword search.

    Per keyword: `\\b<kw>\\b` (the reference uses Postgres `\\y`,
    main.py:271-294), OR-ed across columns, AND-ed across keywords.

    For plain ASCII alphanumeric keywords the regex is guarded by a cheap
    case-insensitive substring containment: ``\\b<kw>\\b`` can only match
    where ``lower(col)`` contains ``lower(kw)``, so the AND short-circuits
    the Java regex engine on the (typically vast) majority of rows that
    cannot match — same rows returned, a fraction of the per-row cost on a
    full-corpus scan. Keywords with regex metacharacters skip the guard, and
    so do non-ASCII ones, where Python's and Java's lower-casing can disagree.
    """
    def col_pred(c: str, kw: str) -> Column:
        pat = r"(?i)\b" + kw + r"\b"
        rx = F.col(c).rlike(pat)
        if kw.isascii() and kw.isalnum():
            return F.lower(F.col(c)).contains(kw.lower()) & rx
        return rx

    def kw_pred(kw: str) -> Column:
        return reduce(or_, (col_pred(c, kw) for c in cols))

    return reduce(and_, (kw_pred(k) for k in keywords))


def ilike_contains(c: Column, q: str) -> Column:
    """F4: ILIKE '%q%' (scripts/db_manage.py:149-157)."""
    return F.lower(c).contains(q.lower())


def domain_of(url: Column) -> Column:
    """F5: urlparse(url).netloc + lowercase + www-strip (url_utils.py:26-29)."""
    return F.regexp_replace(F.lower(F.parse_url(url, F.lit("HOST"))), r"^www\.", "")


def resolve_relative(href: Column, base: str) -> Column:
    """F6: './topics/...' -> base + '/topics/...' (google_news_crawler.py:118-135)."""
    return F.when(
        href.startswith("./"),
        F.concat(F.lit(base.rstrip("/")), F.substring(href, 2, 1_000_000)),
    ).otherwise(href)


def decode_redirect(url: Column, param: str = "u") -> Column:
    """F7: resolve a tracking-redirect URL to its target — the reference
    decodes Google News RSS redirect links before fetching
    (google_news_crawler.py:213, utils/url_utils.py). The synthetic form
    carries the base64 target in a query param; rows without the param
    yield NULL (caller falls back to the raw URL)."""
    b64 = F.regexp_extract(url, rf"[?&]{param}=([A-Za-z0-9+/=]+)", 1)
    return F.when(b64 != "", F.unbase64(b64).cast("string"))


def parse_ts_cascade(c: Column, fmts: list[str] | None = None) -> Column:
    """F8: datetime parsing cascade (google_news_crawler.py:31-51).

    coalesce over to_timestamp attempts; no wall-clock fallback (the
    reference falls back to now(), which is non-deterministic — callers
    supply a batch_time column instead).
    """
    fmts = fmts or [
        "yyyy-MM-dd'T'HH:mm:ssXXX",
        "yyyy-MM-dd'T'HH:mm:ss",
        "yyyy-MM-dd HH:mm:ss",
        "yyyy-MM-dd",
        "dd/MM/yyyy HH:mm",
    ]
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(f)) for f in fmts])


def iso_format(c: Column) -> Column:
    """F10: ISO serialization (main.py:313-319)."""
    return F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")


def strip_source_suffix(title: Column) -> Column:
    """F11: title.rsplit(' - ', 1)[0] (google_news_crawler.py:434-435)."""
    return F.regexp_replace(title, r" - [^-]*$", "")


def normalize_name(c: Column) -> Column:
    """F12: lower, 'u.s.'->'us', '&'->'and', collapse+strip spaces
    (google_news_crawler.py:115,150)."""
    out = F.lower(c)
    out = F.regexp_replace(out, r"u\.s\.", "us")
    out = F.regexp_replace(out, "&", "and")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def digits_only_long(c: Column) -> Column:
    """F14: '1,234,567 views' -> 1234567 (youtube_extractor.py:444-473)."""
    return F.regexp_replace(F.regexp_extract(c, r"([\d,]+)", 1), ",", "").cast("long")


def regex_cascade(c: Column, patterns: list[str], group: int = 1) -> Column:
    """F13: ordered regex cascade, first non-empty match wins
    (youtube_extractor.py:268-477)."""
    return F.coalesce(
        *[F.nullif(F.regexp_extract(c, p, group), F.lit("")) for p in patterns]
    )


def rewrite_query(c: Column, forced: str = "newsweek") -> Column:
    """S2 search-query rewrite (news_sources.py:45-62): a comma-separated
    list or multi-word search becomes ' AND '-joined terms (stripped,
    empties dropped); the forced term is appended unless already present
    case-insensitively; an empty search is just the forced term."""
    comma = F.array_join(
        F.filter(
            F.transform(F.split(c, ","), lambda x: F.trim(x)),
            lambda x: x != "",
        ),
        " AND ",
    )
    space = F.array_join(
        F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != ""), " AND "
    )
    q = (
        F.when(c.contains(","), comma)
        .when(F.trim(c).contains(" "), space)
        .otherwise(c)
    )
    return F.when(F.length(c) == 0, F.lit(forced)).otherwise(
        F.when(
            ~F.lower(q).contains(forced.lower()),
            F.concat(q, F.lit(" AND " + forced)),
        ).otherwise(q)
    )
