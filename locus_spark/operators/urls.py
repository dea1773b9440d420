"""URL canonicalization — the crawl-side dedup key every Common-Crawl
pipeline needs before content dedup: the same page is fetched as
``http(s)://Host:443/path?utm_…#frag`` variants, and grouping by the raw
url overcounts it.

All pure Column expressions (whole-stage codegen; no UDF, no parse_url —
the decomposition below is plain substring/regexp so the DuckDB oracle
mirrors it in its own dialect).  Canonical form:

* fragment dropped (``#…``),
* ``utm_*`` tracking parameters dropped (dangling ``?``/``&`` cleaned;
  leading utm params are stripped together with their trailing ``&`` so
  the query keeps its ``?`` and parameter order can't split one logical
  url into two keys; an ``&`` in a query-less path is left alone),
* explicit default port ``:443`` dropped,
* host lowercased (DNS is case-insensitive; paths are NOT touched),
* trailing ``/index.html`` collapsed to ``/``.

Scheme contract: the synth corpus is https-only and the helpers assume
``https://`` (documented; a multi-scheme corpus needs a scheme split
first — same decomposition, one extra substring_index).

Scale shape: canonicalization is a map-side projection; the dedup that
follows is an ordinary groupBy on the canonical key — no new shuffle
class.  Skew note: a canonical-url hot key IS a duplicate storm (one
page fetched millions of times); the downstream groupBy is a count/min
agg with map-side combine, so the hot key arrives pre-reduced.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: strips of the canonicalization pipeline, in application order
_FRAGMENT_RE = "#.*$"
#: utm params at the START of the query go with their trailing '&' and keep
#: the '?' ('?utm_s=x&id=7' -> '?id=7'), so param order can't split one
#: logical url into two dedup keys ('?utm_s=x&id=7' vs '?id=7&utm_s=x')
_LEADING_UTM_RE = "\\?(utm_[^&#]*&)+"
_UTM_RE = "[?&]utm_[^&#]*"
_DANGLING_RE = "[?&]$"
_PORT_RE = ":443$"
_INDEX_RE = "/index\\.html$"


def _host_path(u: Column) -> tuple[Column, Column]:
    """(host_raw, path) of an ``https://host/path`` url — host is the text
    between the scheme and the first slash; path is the rest (may be
    empty)."""
    after = F.substring(u, F.lit(9), F.length(u))
    host_raw = F.substring_index(after, "/", 1)
    path = F.substring(u, F.length(host_raw) + F.lit(9), F.length(u))
    return host_raw, path


def canonical_url(u: Column) -> Column:
    """Canonical form of an https url (see module docstring)."""
    u1 = F.regexp_replace(u, _FRAGMENT_RE, "")
    u2 = F.regexp_replace(u1, _LEADING_UTM_RE, "?")
    u2 = F.regexp_replace(u2, _UTM_RE, "")
    u3 = F.regexp_replace(u2, _DANGLING_RE, "")
    host_raw, path = _host_path(u3)
    host = F.regexp_replace(F.lower(host_raw), _PORT_RE, "")
    path2 = F.regexp_replace(path, _INDEX_RE, "/")
    return F.concat(F.lit("https://"), host, path2)


def messy_variant(u: Column, id_col: Column) -> Column:
    """Deterministic fetch-time decoration of ``u`` keyed by
    ``pmod(id, 4)`` — the synthetic stand-in for the url noise a real
    crawl frontier sees (the corpus urls are born clean).  Case 0 is the
    identity, so a quarter of pages exercise the raw==variant path."""
    host_raw, path = _host_path(u)
    m = F.pmod(id_col, F.lit(4))
    return (
        F.when(m == 1, F.concat(F.lit("https://"), F.upper(host_raw), path))
        .when(m == 2, F.concat(F.lit("https://"), host_raw, F.lit(":443"), path))
        .when(m == 3, F.concat(u, F.lit("?utm_source=feed&utm_campaign=c#s")))
        .otherwise(u)
    )


#: DuckDB mirrors of the two helpers (same semantics, DuckDB dialect:
#: split_part for host, substr-from for path, RE2 regexp_replace)
DUCK_CANONICAL_TMPL = """
'https://'
|| regexp_replace(lower(split_part({u3}, '/', 3)), ':443$', '')
|| regexp_replace(substr({u3}, 9 + length(split_part({u3}, '/', 3))),
                  '/index\\.html$', '/')
"""

#: DuckDB's regexp_replace is FIRST-match-only unless passed the 'g'
#: option (Spark's replaces all) — both utm strips are global, or the
#: second tracking parameter survives
DUCK_U3_TMPL = """
regexp_replace(regexp_replace(regexp_replace(regexp_replace({u}, '#.*$', ''),
                                             '\\?(utm_[^&#]*&)+', '?', 'g'),
                              '[?&]utm_[^&#]*', '', 'g'),
               '[?&]$', '')
"""

DUCK_MESSY_TMPL = """
CASE ((({id}) % 4) + 4) % 4
  WHEN 1 THEN 'https://' || upper(split_part({u}, '/', 3))
              || substr({u}, 9 + length(split_part({u}, '/', 3)))
  WHEN 2 THEN 'https://' || split_part({u}, '/', 3) || ':443'
              || substr({u}, 9 + length(split_part({u}, '/', 3)))
  WHEN 3 THEN {u} || '?utm_source=feed&utm_campaign=c#s'
  ELSE {u}
END
"""


__all__ = [
    "canonical_url",
    "messy_variant",
    "DUCK_CANONICAL_TMPL",
    "DUCK_U3_TMPL",
    "DUCK_MESSY_TMPL",
]
