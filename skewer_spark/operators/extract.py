"""HTML main-text extraction and URL canonicalization.

The two pre-content stages every web-scale corpus pipeline (C4,
RefinedWeb, FineWeb) runs BEFORE the text operators in
:mod:`skewer_spark.operators.dedup` ever see a document:

* ``html_to_text`` — strip markup down to visible text (script/style/
  comment removal, tag removal, entity decode, whitespace collapse);
* ``html_stats`` — per-document markup-density signals (tag count,
  link count, text-to-markup ratio) used as boilerplate-page gates;
* ``canonicalize_url`` — normalize a URL to its canonical form
  (case-fold scheme+host, drop default ports / fragments / tracking
  params, sort surviving query params, normalize the path) so that the
  same page fetched under cosmetically different URLs dedups;
* ``url_dedup`` — group documents by canonical URL, electing a
  deterministic keeper (the URL-level first dedup that runs before any
  content hashing).

Everything here is pure Java∩RE2 regex + array expressions riding the
scan — zero shuffles for the per-row operators, ONE compact-key
``groupBy(canon_url)`` for ``url_dedup`` — so a DuckDB oracle evaluates
the identical patterns and the whole stage stays inside whole-stage
codegen at 100 TB.  No Python UDFs anywhere.

Entity decoding is deliberately minimal (the named entities HTML4
guarantees plus ``&#39;``): a full HTML5 entity table is a broadcast
dictionary join away and documented as the production swap, but the
ordering constraint that matters — ``&amp;`` is decoded LAST so
``&amp;lt;`` becomes the literal text ``&lt;`` and never a ``<`` —
holds for any table.

Reference parity: the reference is a syslog router and has no HTML
stage; this module is part of the training-data toolbox the task brief
adds on top (SURVEY.md "beyond the reference" section).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# HTML → text
# ---------------------------------------------------------------------------

# Ordered strip passes.  All patterns are in the Java ∩ RE2 subset
# (inline (?is) flags + lazy quantifiers, no backreferences, no
# lookaround) so DuckDB's RE2 evaluates them identically.
_STRIP_PASSES: tuple[tuple[str, str], ...] = (
    # script/style bodies are NOT text — remove content, not just tags
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    # comments (incl. conditional comments)
    (r"(?s)<!--.*?-->", " "),
    # every remaining tag / declaration
    (r"(?s)<[^>]*>", " "),
)

# Literal entity decodes; ``&amp;`` MUST stay last (double-escaped
# entities must decode exactly one level).
_ENTITY_DECODES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_text_col(html: Column) -> Column:
    """Visible-text column for an HTML column (pure expressions)."""
    out = html
    for pat, rep in _STRIP_PASSES:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in _ENTITY_DECODES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_to_text(
    df: DataFrame, html_col: str = "html", out_col: str = "text"
) -> DataFrame:
    """Add ``out_col`` = extracted visible text.  Narrow map, zero
    shuffles; the whole chain is one codegen stage riding the scan."""
    return df.withColumn(out_col, html_text_col(F.col(html_col)))


def html_stats(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Markup-density signals per document (boilerplate-page gates).

    Returns ``(id, n_tags, n_links, n_scripts, html_chars, text_chars,
    text_ratio)``.  ``text_ratio`` (visible text chars / raw HTML
    chars) is the crude RefinedWeb-style "is this page mostly chrome"
    signal; pages under ~0.1 are navigation/boilerplate with high
    probability.  All counts via ``regexp_count`` — narrow codegen, no
    Python, no shuffle."""
    html = F.col(html_col)
    text = html_text_col(html)
    return df.select(
        F.col(id_col).alias("id"),
        F.regexp_count(html, F.lit(r"(?s)<[a-zA-Z!/][^>]*>")).alias("n_tags"),
        F.regexp_count(html, F.lit(r"(?i)<a\b")).alias("n_links"),
        F.regexp_count(html, F.lit(r"(?i)<script\b")).alias("n_scripts"),
        F.length(html).alias("html_chars"),
        F.length(text).alias("text_chars"),
        F.round(
            F.length(text).cast("double")
            / F.greatest(F.length(html), F.lit(1)).cast("double"),
            6,
        ).alias("text_ratio"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------------------

# Tracking parameters dropped during canonicalization (the de-facto
# list every crawler normalizer strips; extend via the ``drop_params``
# argument).  Matched as a leading ``name=`` regex alternation so the
# whole filter stays one RE2 evaluation per param.
_TRACKING_PARAM_RE = r"^(utm_[a-z0-9]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)="

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonical_url_col(url: Column) -> Column:
    """Canonical form of ``url`` (NULL when there is no scheme —
    a schemeless string cannot be canonicalized fail-safe; route it to
    the ``url_filter`` reject path instead).

    Normalizations applied, in order:

    * scheme + host lowercased; userinfo (``user:pw@``) stripped;
    * default ports dropped (``http:80`` / ``https:443``), explicit
      non-default ports kept;
    * fragment dropped;
    * empty path → ``/``; duplicate slashes collapsed; trailing slash
      stripped (except root);
    * tracking params dropped, surviving params sorted bytewise and
      re-joined (param ORDER never distinguishes resources; param
      MULTIPLICITY is preserved — ``a=1&a=2`` keeps both).

    Pure regex/array expressions — the identical algebra runs in the
    DuckDB oracle."""
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    authority = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    hostport = F.regexp_replace(authority, r"^[^@]*@", "")
    host = F.lower(F.regexp_replace(hostport, r":[0-9]*$", ""))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (port != F.lit("")) & (
        ~F.concat(scheme, F.lit(":"), port).isin(
            *[f"{s}:{p}" for s, p in _DEFAULT_PORTS.items()]
        )
    )
    pathqf = F.regexp_replace(rest, r"^[^/?#]*", "")
    raw_path = F.regexp_extract(pathqf, r"^([^?#]*)", 1)
    query = F.regexp_extract(pathqf, r"^[^?#]*\?([^#]*)", 1)
    collapsed = F.regexp_replace(raw_path, r"//+", "/")
    path = F.when(collapsed == "", F.lit("/")).otherwise(
        F.when(
            (F.length(collapsed) > 1) & collapsed.endswith("/"),
            collapsed.substr(F.lit(1), F.length(collapsed) - 1),
        ).otherwise(collapsed)
    )
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit("")) & ~p.rlike(_TRACKING_PARAM_RE),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.when(
        scheme == "",
        F.lit(None).cast("string"),
    ).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            host,
            F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
            path,
            F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
        )
    )


def canonicalize_url(
    df: DataFrame, url_col: str = "url", out_col: str = "canon_url"
) -> DataFrame:
    """Add ``out_col`` = canonical URL (NULL for schemeless input)."""
    return df.withColumn(out_col, canonical_url_col(F.col(url_col)))


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level dedup groups: one row per canonical URL with
    ``(canon_url, n_docs, keeper_id)``, keeper = min id (deterministic,
    resume-safe — no RNG, no first-seen order dependence).

    Scale shape: canonicalization rides the scan; the only exchange is
    ONE partial-aggregable ``groupBy(canon_url)`` over compact
    ``(canon_url, id)`` rows — document text/payload never shuffles.
    Schemeless rows (canon NULL) are excluded: they cannot assert
    identity with anything.

    The exclusion filters on the cheap scheme-prefix regex BEFORE
    canonicalizing rather than on ``canon_url IS NOT NULL`` after —
    provably equivalent (``canon_url`` is NULL iff the trimmed url has
    no scheme prefix, and for scheme-bearing rows it is a concat of
    non-null parts), but the post-hoc null filter made the optimizer
    push a predicate containing the WHOLE canon expression — re-inlined
    once per concat component — below the parallelism repartition,
    running the regex chain ~7x per row in a single partition (r6:
    1.9 → 0.5 s at sf0.1; edge parity incl. NULL/empty/whitespace/
    schemeless pinned in tests)."""
    pre = df.filter(
        F.trim(F.col(url_col)).rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://")
    )
    return (
        canonicalize_url(pre, url_col)
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
    )
