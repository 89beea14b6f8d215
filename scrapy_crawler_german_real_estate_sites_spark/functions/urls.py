"""URL canonicalization (RFC 3986 §6) — expression-only, oracle-mirrorable.

The engine's D1 normalization (query-strip, `url_normalize`) mirrors the
reference spiders; a 10^10-URL frontier additionally needs the standard
syntax-based canonicalization so that trivially-distinct spellings of one
resource collapse BEFORE the seen-set probe (every real crawler —
Nutch/Heritrix/CC — runs one).  Implemented here per RFC 3986 §6.2.2/§6.2.3
as a whole-stage-codegen expression chain (no Python, no UDF):

* scheme + host lowercased (§6.2.2.1);
* default ports stripped (``http://h:80`` / ``https://h:443`` — §6.2.3);
* fragment removed (crawlers fetch the resource, not the view);
* duplicate path slashes collapsed — PATH COMPONENT ONLY: the rest is
  split at the first ``?`` and the query string passes through verbatim
  (a query value like ``?next=/a/../b`` keeps its meaning);
* dot-segments removed (§5.2.4, path-only per spec) by BOUNDED
  unrolling: ``/./`` and
  ``segment/../`` rewrites applied ``_DOT_ITERS`` times — RE2 (the
  DuckDB-oracle regex engine) has no lookahead, so "segment ≠ ``..``" is
  an explicit alternation, and one pass per nesting level replaces the
  spec's loop (documented bound, ample for real URL depth);
* empty query (trailing ``?``) dropped.

Percent-encoding case/unreserved normalization (§6.2.2.1–§6.2.2.2) is
implemented as the separate opt-in :func:`normalize_percent_encoding`
below (heavier chain, rarely needed before the seen probe).  NOT done
(documented): query-parameter reordering (semantics-changing on many
sites).

Every step is a (pattern, replacement) pair built ONCE and rendered for
both engines — Spark ``regexp_replace`` uses ``$1`` backreferences,
DuckDB uses ``\\1``; the pattern text itself is shared Java∩RE2 syntax,
so the two chains are byte-for-byte the same transformation (query
``url_canonicalize`` is the cross-engine proof).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_DOT_ITERS = 4  # bounded §5.2.4 unroll: handles 4 nesting levels/pass pair

# "a path segment that is not '.' and not '..'" without lookahead:
# starts with a non-dot char, OR '.'+non-dot, OR '..'+at-least-one-char
_SEG = r"(?:[^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)"

# ordered (pattern, group-replacement) steps applied to the PATH component
# only — RFC 3986 §5.2.4 dot-segment removal is path-only, and rewriting a
# query value like ?next=/a/../b would change semantics.  {g1} is rendered
# as $1 (Spark) or \1 (DuckDB).
_PATH_STEPS = (
    [(r"([^:/])//+", "{g1}/")] * 2        # collapse duplicate slashes
    + [(r"/\./", "/")] * _DOT_ITERS       # /./  (one level per pass)
    + [(r"/\.$", "/")]                    # trailing /.
    + [(rf"/{_SEG}/\.\./", "/")] * _DOT_ITERS  # seg/../
    + [(rf"/{_SEG}/\.\.$", "/")]          # trailing seg/..
)

_PREFIX = r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)"


def canonicalize_url(col: Column) -> Column:
    """RFC 3986 syntax-based canonical form — pure Catalyst expressions."""
    prefix = F.lower(F.regexp_extract(col, _PREFIX, 1))
    prefix = F.regexp_replace(prefix, r"^(http://[^:/]+):80$", "$1")
    prefix = F.regexp_replace(prefix, r"^(https://[^:/]+):443$", "$1")
    rest = F.regexp_replace(col, _PREFIX, "")
    rest = F.regexp_replace(rest, r"#.*$", "")      # fragment strip (global)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)   # split at first '?'
    query = F.regexp_replace(rest, r"^[^?]*", "")   # '?...' or ''
    for pat, rep in _PATH_STEPS:
        path = F.regexp_replace(path, pat, rep.format(g1="$1"))
    query = F.regexp_replace(query, r"^\?$", "")    # empty query dropped
    return F.concat(prefix, path, query)


def sql_canonicalize_url(expr: str) -> str:
    """The identical chain as a DuckDB expression (oracle mirror)."""
    prefix = f"lower(regexp_extract({expr}, '{_PREFIX}', 1))"
    prefix = f"regexp_replace({prefix}, '^(http://[^:/]+):80$', '\\1')"
    prefix = f"regexp_replace({prefix}, '^(https://[^:/]+):443$', '\\1')"
    rest = f"regexp_replace({expr}, '{_PREFIX}', '')"
    rest = f"regexp_replace({rest}, '#.*$', '', 'g')"
    path = f"regexp_extract({rest}, '^([^?]*)', 1)"
    query = f"regexp_replace({rest}, '^[^?]*', '')"
    for pat, rep in _PATH_STEPS:
        p = pat.replace("'", "''")
        r = rep.format(g1="\\1").replace("'", "''")
        path = f"regexp_replace({path}, '{p}', '{r}', 'g')"
    query = f"regexp_replace({query}, '^\\?$', '')"
    return f"concat({prefix}, {path}, {query})"


# ---------------------------------------------------------------------------
# percent-encoding normalization (RFC 3986 §6.2.2.1–§6.2.2.2) — the step
# canonicalize_url documents as NOT included in its default chain.  Kept
# separate and opt-in: it is ~78 chained literal/regex rewrites, which is
# still whole-stage-codegen JVM work but meaningfully heavier than the
# syntax chain, and crawl frontiers rarely need it before the seen probe.
# ---------------------------------------------------------------------------

_HEX_LC = "abcdef"
# unreserved set (§2.3): ALPHA / DIGIT / "-" / "." / "_" / "~"
_UNRESERVED = (
    {f"%{ord(c):02X}": c for c in
     "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"}
    | {"%2D": "-", "%2E": ".", "%5F": "_", "%7E": "~"}
)


# a '%' that does not start a triplet (end of string, or a non-hex digit
# within the next two characters): RE2 has no lookahead, so the pattern
# spells out both short forms
_MALFORMED_PCT = "%[0-9A-Fa-f]?([^0-9A-Fa-f]|$)"


def normalize_percent_encoding(col: Column) -> Column:
    """§6.2.2.1: uppercase the hex digits of every percent-triplet
    (``%3a`` → ``%3A``) — 12 per-digit regex passes (regex cannot
    case-map a capture group, so each lowercase hex letter gets one pass
    per position); then §6.2.2.2: decode the 66 unreserved octets
    (``%41`` → ``A``) as literal replaces.  ``%25`` (the escaped ``%``)
    is reserved and stays encoded, so decoding cannot create new
    triplets.  Only a valid triplet stream is normalized: a URL with a
    ``%`` that starts no triplet (``/50%off/%41``) is malformed, any of
    its ``%`` may be literal, and it is returned unchanged.  Pure Catalyst
    expressions, DuckDB-mirrored below."""
    x = col
    for c in _HEX_LC:
        x = F.regexp_replace(x, f"%{c}([0-9a-fA-F])", f"%{c.upper()}$1")
    for c in _HEX_LC:
        x = F.regexp_replace(x, f"%([0-9A-F]){c}", "%$1" + c.upper())
    for code, ch in _UNRESERVED.items():
        x = F.replace(x, F.lit(code), F.lit(ch))
    return F.when(col.rlike(_MALFORMED_PCT), col).otherwise(x)


def sql_normalize_percent_encoding(expr: str) -> str:
    """The identical chain as a DuckDB expression (oracle mirror)."""
    x = expr
    for c in _HEX_LC:
        x = f"regexp_replace({x}, '%{c}([0-9a-fA-F])', '%{c.upper()}\\1', 'g')"
    for c in _HEX_LC:
        x = f"regexp_replace({x}, '%([0-9A-F]){c}', '%\\1{c.upper()}', 'g')"
    for code, ch in _UNRESERVED.items():
        lit = ch.replace("'", "''")
        x = f"replace({x}, '{code}', '{lit}')"
    return (f"CASE WHEN regexp_matches({expr}, '{_MALFORMED_PCT}') "
            f"THEN {expr} ELSE {x} END")
