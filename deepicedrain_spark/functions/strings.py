"""String / filename / JSON scalar functions (SURVEY F6-F9).

Reference: track-id formatting ``f"{rgt:04d}_{pairtrack}"``
(/root/reference/deepicedrain/extraload.py:170), crossover-pair split
on 'x' (/root/reference/atlxi_xover.py:248), pipe-joined distinct
track lists (/root/reference/atlxi_lake.py:281-283), filename pattern
parsing via intake ``reverse_format`` (/root/reference/atlxi_dhdt.py:65-70),
JSON normalize (/root/reference/atlxi_lake.py:364-369).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def track_id(rgt: Column, pairtrack: Column) -> Column:
    """'%04d_%s' track key (F6)."""
    return F.format_string("%04d_%s", rgt.cast("int"), pairtrack)


def split_track_pair(pair: Column) -> tuple[Column, Column]:
    """'0111_pt1x0222_pt2' → two track ids (F6)."""
    parts = F.split(pair, "x")
    return parts.getItem(0), parts.getItem(1)


def piped_distinct(col_name: str) -> Column:
    """Aggregate: sorted distinct values pipe-joined (F6; reference
    atlxi_lake.py:281-283). Use inside .agg()."""
    return F.concat_ws("|", F.sort_array(F.collect_set(col_name)))


def filename_field(pattern: str, group: int = 1) -> Column:
    """Regex-extract a field from the source file path (F7; replaces
    intake reverse_format — e.g. r'ATL11_(\\d{4})' → rgt)."""
    return F.regexp_extract(F.input_file_name(), pattern, group)


def json_field(col: Column, path: str) -> Column:
    """Extract a scalar from a JSON string column (F8)."""
    return F.get_json_object(col, path)


def replace_value(col: Column, to_replace, value=None) -> Column:
    """NULL-out or substitute a sentinel (F9; reference
    atlxi_lake.py:239,273 ``.replace(to_replace=label, value=None)``)."""
    return F.when(col == F.lit(to_replace), F.lit(value)).otherwise(col)


def bin_label(col: Column, edges: list[float], labels: list[str]) -> Column:
    """pd.cut equivalent (F5; reference extraload.py:162-166 bins
    y_atc at (−∞,−100,100,∞) → pt1/pt2/pt3). NULL and NaN inputs map
    to NULL, matching pd.cut's NaN — without the explicit guard they
    would fall through every `<= edge` WHEN into the TOP bin."""
    if len(labels) != len(edges) + 1:
        raise ValueError(
            f"bin_label: {len(edges)} edges make {len(edges) + 1} bins, "
            f"got {len(labels)} labels"
        )
    expr = F.when(col.isNull() | F.isnan(col), F.lit(None).cast("string"))
    expr = expr.when(col <= F.lit(edges[0]), F.lit(labels[0]))
    for i in range(1, len(edges)):
        expr = expr.when(col <= F.lit(edges[i]), F.lit(labels[i]))
    return expr.otherwise(F.lit(labels[-1]))


def canonicalize_url(col: Column) -> Column:
    """Canonical URL form for URL-level dedup — the CommonCrawl-style
    pretraining step (one crawl revisits the same page under case,
    port, www, trailing-slash, tracking-param and fragment variants;
    dedup must key on the canonical form or near-identical pages
    survive). Pure JVM-side built-ins (whole-stage codegen, no UDF):

      1. drop the fragment            (#...)
      2. strip userinfo ('user:pw@') — otherwise
         'https://x@site.com' evades a host blocklist and splits the
         dedup group of the same page fetched without it
      3. lowercase scheme and host
      4. strip the scheme's default port  (https:443 / http:80)
      5. strip a leading 'www.'
      6. drop utm_* tracking params, tidy '&'
      7. strip trailing slashes from the path ('' -> '/')

    Everything is plain regex, so an ANSI-SQL oracle replays it
    exactly (see q_url_dedup_hosts)."""
    no_frag = F.regexp_replace(col, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    # greedy '^.*@' splits the authority at the LAST '@' (WHATWG /
    # urllib behavior) — '^[^@]*@' stopped at the first, so a double-@
    # URL ('https://a@b@site.com') still evaded host blocklists; safe
    # because the extract already excludes '/?#'
    hostport = F.lower(
        F.regexp_replace(F.regexp_extract(no_frag, r"://([^/?#]*)", 1), r"^.*@", "")
    )
    host = (
        F.when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .otherwise(hostport)
    )
    host = F.regexp_replace(host, r"^www\.", "")
    pathq = F.regexp_extract(no_frag, r"^[^:]+://[^/?#]*(.*)$", 1)
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    qclean = F.regexp_replace(
        F.regexp_replace(query, r"(^|&)utm_[^&]*", ""), r"^&+", ""
    )
    pathnorm = F.regexp_replace(path, r"/+$", "")
    pathnorm = F.when(pathnorm == "", F.lit("/")).otherwise(pathnorm)
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        pathnorm,
        F.when(qclean != "", F.concat(F.lit("?"), qclean)).otherwise(F.lit("")),
    )


def url_host(canonical: Column) -> Column:
    """Host component of a canonicalize_url output (domain-level
    grouping for blocklists and per-site quotas)."""
    return F.regexp_extract(canonical, r"^[^:]+://([^/?#]*)", 1)
