"""WebBase crawl-dump converter (``c/webbase.c:20-87`` +
``webbase/Hasher.java:55-80`` + ``webbase/Converter.java:100-160``).

The reference pipeline is three sequential single-reader programs:

1. ``webbase.c`` — scans the crawl dump (pages delimited by a magic cookie
   line, then a ``URL: <url>`` line, three header lines, then one outlink
   URL per line) and emits per-page URL lists, applying filters;
2. ``Hasher.java`` — assigns dense ids to valid page URLs in first-seen
   order (CRC64 map);
3. ``Converter.java`` — resolves each page's outlinks against that map
   (unresolvable links are "broken" and dropped), dedups them per page
   (``IntRBTreeSet``), and writes a BVGraph.

Spark-first re-expression: the magic cookie makes the dump *splittable* —
``spark.read.text(path, lineSep=cookie)`` yields one row per page record
at any byte offset (Hadoop's delimited record reader scans forward to the
next cookie), so parsing is an embarrassingly parallel narrow scan with the
filters as pure column expressions; id minting reuses
:func:`~webgraph_spark.sources.ids.mint_dense_ids` and link resolution is
one inner hash join (broken links drop, exactly the Converter's rule).

Filter parity with ``webbase.c``:

- page URL: CR-trimmed (``fixCR``), must start ``URL: `` with a
  case-insensitive ``http`` protocol (``webbase.c:52``), must not end in
  ``robots.txt`` (``:43``), must contain no control/space character
  (``:46-49``); the leading alphabetic protocol run is lowercased
  (``fixProtocol``, ``:13-18``);
- outlink lines: skipped when they contain ANY char <= 0x20
  (``webbase.c:77-79`` — note this intentionally reproduces the quirk that
  CRLF-terminated outlink lines are dropped wholesale, since ``gets``
  leaves the ``\\r`` in the buffer), must start with literal lowercase
  ``http`` (case-SENSITIVE ``strncmp``, ``:81`` — unlike the page check),
  then protocol-lowercased.

Node identity and link matching use the reference's ``URL2`` normalization
(``webbase/URL2.java:217-487``): Hasher keys pages by
``CRC64(new URL2(url).toString())`` and the Converter resolves each outlink
by raw CRC first, then by its URL2-normalized CRC (``Converter.java:115-125``)
— since normalization is idempotent on its own image, both probes together
equal "match by normalized form", which is what :func:`normalize_url2`
implements as pure column expressions (scheme + host lowercased, first-``@``
userinfo split, ``:80`` / unparsable ports dropped, one trailing host dot
removed, fragment stripped, empty path → ``/``, slash runs collapsed in the
path, ``/`` → ``%2F`` in the query, non-ASCII UTF-8 %-encoded uppercase; no
dot-segment removal — the Converter parses absolute specs, for which URL2
skips it).

Documented deviations: ids are minted in URL sort order (deterministic at
any parallelism) rather than the single-reader first-seen order — the same
deviation :func:`read_scattered_arcs` documents; the node map's ``key`` is
the NORMALIZED url (the reference's ``.urls`` file keeps the raw first-seen
spelling); when two crawled pages normalize to the same URL, the kept link
list is the one from the lexicographically-smallest raw url (the reference
keeps the first-seen page's line, an input-order notion); signed port
strings (``:+80`` / ``:-80``, which ``Integer.parseInt`` inside
``URL2.java:376`` accepts) parse as "no port" here — digit-only strings up
to ``Integer.MAX_VALUE`` are kept and anything above it is "no port",
replaying the parseInt overflow catch exactly; lone-surrogate input (which
would make the
reference's UTF-8 encoder throw and the URL invalid) passes through.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from webgraph_spark.sources.ids import mint_dense_ids, remap_edges

WEBBASE_COOKIE = "==P=>>>>=i===<<<<=T===>=A===<=!Junghoo!==>"

_CTRL = "[\\x00-\\x20]"  # webbase.c's `<= 32` character class


def _fix_protocol(col):
    """Lowercase the leading alphabetic run (``webbase.c fixProtocol``)."""
    return F.concat(
        F.lower(F.regexp_extract(col, "^[A-Za-z]*", 0)),
        F.regexp_replace(col, "^[A-Za-z]*", ""),
    )


def _pct_encode_non_ascii(c):
    """``URL2.normalizeURLFragment``: chars > 0x7F become the %XX (uppercase
    hex) encoding of their UTF-8 bytes; ASCII passes through untouched. The
    all-ASCII fast path (one ``rlike``) skips the per-char transform."""
    encoded = F.array_join(
        F.transform(
            F.split(c, ""),
            lambda ch: F.when(ch <= F.lit("\x7f"), ch).otherwise(
                F.regexp_replace(F.hex(F.encode(ch, "UTF-8")), "(..)", "%$1")
            ),
        ),
        "",
    )
    return F.when(c.rlike("[^\\x00-\\x7F]"), encoded).otherwise(c)


def normalize_url2(col):
    """Column expression replaying ``URL2(spec).toString()`` for the absolute
    specs the Converter feeds it (``webbase/URL2.java:217-487``; semantics
    list in the module docstring). Specs without an ``//`` authority — which
    the webbase.c filters never let through — fall back to
    scheme-lowercasing only."""
    u = col if isinstance(col, Column) else F.col(col)
    # whitespace trim (chars <= 0x20), optional case-insensitive "url:"
    # prefix, fragment strip, then re-trim before-the-# trailing whitespace
    u = F.regexp_replace(u, r"^[\x00-\x20]+|[\x00-\x20]+$", "")
    u = F.regexp_replace(u, r"^(?i)url:", "")
    u = F.regexp_replace(u, r"(?s)#.*$", "")
    u = F.regexp_replace(u, r"[\x00-\x20]+$", "")

    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*:", "")

    apq = F.substring(rest, 3, 1 << 30)  # after "//"
    auth = F.regexp_extract(apq, r"^([^/?]*)", 1)
    pathq = F.regexp_replace(apq, r"^[^/?]*", "")

    # query = after the FIRST '?' — but a trailing bare '?' stays in the
    # path (URL2 only splits when queryStart+1 < limit)
    qpos = F.instr(pathq, "?")
    has_q = (qpos > 0) & (qpos < F.length(pathq))
    path = F.when(has_q, F.regexp_extract(pathq, r"^([^?]*)", 1)).otherwise(
        pathq
    )
    query = F.when(has_q, F.regexp_replace(pathq, r"^[^?]*\?", ""))

    # authority: userinfo (before FIRST '@', case kept) / host (lowercased)
    # / port (after FIRST ':'; digits-only else "no port"; 80 == default)
    has_ui = F.instr(auth, "@") > 0
    userinfo = F.when(has_ui, F.regexp_extract(auth, r"^([^@]*)@", 1))
    hostport = F.lower(
        F.when(has_ui, F.regexp_replace(auth, r"^[^@]*@", "")).otherwise(auth)
    )
    has_port = F.instr(hostport, ":") > 0
    host = F.when(
        has_port, F.regexp_extract(hostport, r"^([^:]*)", 1)
    ).otherwise(hostport)
    portstr = F.when(has_port, F.regexp_replace(hostport, r"^[^:]*:", ""))
    # leading zeros stripped first (parseInt reads :00000000443 as 443 and
    # :0 as 0), then ≤ 10 digits AND ≤ Integer.MAX_VALUE: Java's parseInt
    # accepts any int-range port (URL2 keeps e.g. :1234567890 in
    # toString()); only a genuine parseInt overflow (> 2147483647) reads as
    # "no port"
    portstr = F.regexp_replace(portstr, r"^0+(?=[0-9])", "")
    port = F.when(
        portstr.rlike(r"^[0-9]{1,10}$")
        & (portstr.cast("long") <= F.lit(2147483647)),
        portstr.cast("long"),
    ).otherwise(F.lit(-1))
    host = F.regexp_replace(host, r"\.$", "")
    authority = F.concat(
        F.when(
            userinfo.isNotNull() & (userinfo != ""),
            F.concat(userinfo, F.lit("@")),
        ).otherwise(F.lit("")),
        host,
        F.when(
            (port != -1) & (port != 80),
            F.concat(F.lit(":"), port.cast("string")),
        ).otherwise(F.lit("")),
    )

    # path: empty -> "/", slash runs collapse; query: "/" -> "%2F";
    # both non-ASCII %-encoded
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = _pct_encode_non_ascii(F.regexp_replace(path, "/{2,}", "/"))
    query = _pct_encode_non_ascii(F.regexp_replace(query, "/", "%2F"))

    normalized = F.concat(
        scheme,
        F.lit("://"),
        authority,
        path,
        F.when(query.isNotNull(), F.concat(F.lit("?"), query)).otherwise(
            F.lit("")
        ),
    )
    return F.when(
        (scheme != "") & rest.startswith("//"), normalized
    ).otherwise(_fix_protocol(u))


def read_webbase_pages(spark: SparkSession, path: str) -> DataFrame:
    """Parse a WebBase crawl dump -> ``(url string, links array<string>)``,
    one row per kept page, all ``webbase.c`` filters applied (module
    docstring). Splittable narrow scan; no shuffle."""
    records = spark.read.text(path, lineSep=WEBBASE_COOKIE + "\n")
    lines = F.split(F.col("value"), "\n")
    url_line = F.regexp_replace(F.element_at(lines, 1), "\r$", "")  # fixCR
    url = _fix_protocol(F.substring(url_line, 6, 1 << 30))
    n_links = F.greatest(F.size(lines) - 4, F.lit(0))
    raw_links = F.slice(lines, 5, n_links)
    links = F.transform(
        F.filter(
            raw_links,
            # any char <= 0x20 kills the line (CRLF quirk included), and the
            # link must start with literal lowercase "http"
            lambda s: (F.length(s) > 0)
            & ~s.rlike(_CTRL)
            & s.startswith("http"),
        ),
        _fix_protocol,
    )
    return (
        records.select(url_line.alias("__ul"), url.alias("url"), links.alias("links"))
        .filter(
            F.col("__ul").startswith("URL: ")
            & F.lower(F.col("url")).startswith("http")
            & ~F.col("url").endswith("robots.txt")
            & ~F.col("url").rlike(_CTRL)
        )
        .select("url", "links")
    )


def webbase_to_graph(
    pages: DataFrame, normalize: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Hasher + Converter: ``(node_map(id, key), edges(src, dst))``.

    Page identity and link resolution are by URL2-NORMALIZED url
    (``Hasher.java:58-69`` keys the CRC map on the normalized string;
    ``Converter.java:115-125``'s raw-then-normalized double probe reduces
    to the normalized match — module docstring). Only PAGE urls get ids
    (the CRC map holds crawled pages, nothing else); outlinks resolve by
    inner join — unresolved = the Converter's "broken links", dropped —
    and duplicate arcs collapse ("double links", ``Converter.java:124``).
    Pages colliding after normalization keep one deterministic link list
    (min raw url — the "doubles" rule, ``Hasher.java:70-74``).
    ``normalize=False`` restores exact-string matching (the round-2/3
    behavior) for debugging."""
    key = normalize_url2(F.col("url")) if normalize else F.col("url")
    pg = pages.select(key.alias("key"), F.col("url").alias("__raw"), "links")
    if normalize:
        pg = pg.groupBy("key").agg(F.min_by("links", "__raw").alias("links"))
    node_map = mint_dense_ids(pg.select("key"), ["key"])
    raw = pg.select(
        F.col("key").alias("k_src"), F.explode("links").alias("l")
    ).select(
        "k_src",
        (normalize_url2(F.col("l")) if normalize else F.col("l")).alias(
            "k_dst"
        ),
    )
    edges = remap_edges(raw, node_map, src_key=["k_src"], dst_key=["k_dst"])
    return node_map, edges


def write_webbase_dump(records: list[tuple[str, list[str]]], path: str) -> None:
    """Test/debug sink: serialize ``(url_line_body, links)`` records into the
    crawl-dump layout (cookie, ``URL:`` line, three header lines, one link
    per line) so the reader can be exercised round-trip."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        for url, links in records:
            f.write(WEBBASE_COOKIE + "\n")
            f.write(f"URL: {url}\n")
            f.write("Date: today\nStatus: 200\n\n")
            for link in links:
                f.write(link + "\n")
