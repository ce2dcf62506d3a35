"""From-scratch CDX-J capture-index source with SURT canonical keys.

Common Crawl (and every Wayback-style archive) distributes a capture
index alongside the WARC data: CDX-J files, one line per capture,
``<surt-key> <timestamp14> <json-block>`` sorted lexicographically by
(key, timestamp).  Pipelines read the index INSTEAD of the archives
to answer "which captures exist / which is the latest / what changed"
before any payload byte moves — at 10^12 documents the index scan is
the cheap planning pass that makes selective fetch possible.

The key is a SURT (Sort-friendly URI Reordering Transform) of the
canonicalized URL.  This module implements the canonicalization
subset the fixture family exercises, documented precisely:

- lowercase scheme, host, path and query;
- scheme dropped from the key;
- one leading ``www.`` label stripped;
- scheme-default ports dropped (``:80`` http, ``:443`` https),
  non-default ports kept;
- host labels reversed and comma-joined, ``)`` before the path;
- query parameters sorted by raw byte order and re-joined.

Writer/reader discipline follows the WARC/sitemap sources: the writer
synthesizes REAL CDX-J bytes from doc_ids (messy originals: cased
schemes/hosts, ``www.`` prefixes, unsorted query strings, non-default
ports), the reader parses lines, re-derives the SURT from the JSON's
original URL and REFUSES a line whose key field disagrees, asserts
the per-file sort invariant, and orders each URL's captures by the
parsed timestamp.  Every output field is recovered from the bytes —
nothing rides along — so the closed-form DuckDB oracle gates the
whole loop: URL synthesis → canonicalize → SURT → line write → sort →
parse → capture ordering → revisit detection.

Scale shape (100 TB contract): CDX files are bounded line-oriented
text — the parse is a narrow bounded-batch Arrow map exactly like the
WARC/feed/sitemap sources; output rows are fixed-width (key + five
small fields); the per-URL capture ordering is computed inside the
batch (captures of one URL are adjacent by the sort invariant), so
nothing shuffles until the caller aggregates.

No reference counterpart (the reference is a single-document
extractor) — this extends the WARC/robots/feeds/sitemap discovery
surface from the task brief's web-scale axis.
"""

from __future__ import annotations

import json
import re
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, functions as F

from ..plans.pipeline import map_groups, spread

CDX_EPOCH = datetime(2024, 1, 1)
DOCS_PER_FILE = 32

# capture-count / timestamp / digest arithmetic (closed-form oracle)
TS_MULT = 137
TS_MOD = 400_000
TS_CAP_STEP = 40_000     # strictly monotone in capture index
DIGEST_MULT = 7
DIGEST_CAP_MULT = 13
DIGEST_MOD = 97
LEN_BASE = 1_000
LEN_MOD = 500

_DEFAULT_PORTS = {"http": "80", "https": "443"}

_URL_ID_RE = re.compile(r"/page/(\d+)(?:\?|$)")
_URL_RE = re.compile(
    r"^([a-z][a-z0-9+.-]*)://([^/?#:]+)(?::(\d+))?([^?#]*)(?:\?([^#]*))?",
    re.IGNORECASE,
)


# ======================================================= canonical SURT

def surt(url: str) -> str:
    """Canonicalized SURT key for the URL (subset documented above).

    Raises on URLs outside the supported grammar — an index key must
    never be silently wrong."""
    m = _URL_RE.match(url)
    if not m:
        raise ValueError(f"unsupported URL: {url!r}")
    scheme, host, port, path, query = m.groups()
    scheme = scheme.lower()
    host = host.lower()
    if host.startswith("www."):
        host = host[4:]
    key = ",".join(reversed(host.split(".")))
    if port and port != _DEFAULT_PORTS.get(scheme):
        key += f":{port}"
    key += ")" + (path.lower() or "/")
    if query:
        key += "?" + "&".join(sorted(query.lower().split("&")))
    return key


# ============================================================== fixture

def n_captures(doc_id: int) -> int:
    return 1 + doc_id % 3


def original_url(doc_id: int) -> str:
    """The messy as-crawled URL: cased scheme/host, ``www.`` on every
    third doc, a non-default port on every seventh-mod-3 doc, an
    unsorted query string on every fifth."""
    scheme = ("HTTP", "https", "HTTPS", "http")[doc_id % 4]
    host = f"h{doc_id % 20}.Example.COM"
    if doc_id % 3 == 0:
        host = "WWW." + host
    port = ":8080" if doc_id % 7 == 3 else ""
    url = f"{scheme}://{host}{port}/Page/{doc_id}"
    if doc_id % 5 == 0:
        url += f"?b={doc_id % 9}&a=1"
    return url


def ts_offset(doc_id: int, cap_idx: int) -> int:
    return (doc_id * TS_MULT) % TS_MOD + cap_idx * TS_CAP_STEP


def ts14(offset: int) -> str:
    return (CDX_EPOCH + timedelta(seconds=offset)).strftime(
        "%Y%m%d%H%M%S"
    )


def digest_x(doc_id: int, cap_idx: int) -> int:
    """Content-hash stand-in.  Docs with ``doc_id % 4 == 2`` never
    change between captures (version pinned to 0) — their re-crawls
    are revisit records, the CDX representation of 'content
    unchanged'."""
    version = 0 if doc_id % 4 == 2 else cap_idx
    return (doc_id * DIGEST_MULT + version * DIGEST_CAP_MULT) % DIGEST_MOD


def build_cdxj(doc_ids: list[int]) -> bytes:
    """One CDX-J file over the docs' captures, sorted by (key, ts) —
    the on-disk invariant every CDX consumer relies on."""
    lines = []
    for doc_id in doc_ids:
        url = original_url(doc_id)
        key = surt(url)
        for ci in range(n_captures(doc_id)):
            block = {
                "url": url,
                "status": "404" if doc_id % 13 == 5 else "200",
                "mime": ("warc/revisit"
                         if ci > 0 and doc_id % 4 == 2 else "text/html"),
                "digest": f"x{digest_x(doc_id, ci)}",
                "length": str(LEN_BASE + (doc_id * 3 + ci) % LEN_MOD),
            }
            lines.append(
                f"{key} {ts14(ts_offset(doc_id, ci))} "
                f"{json.dumps(block, sort_keys=True)}"
            )
    return ("\n".join(sorted(lines)) + "\n").encode("ascii")


# =============================================================== reader

def parse_cdxj(data: bytes) -> list[dict]:
    """CDX-J bytes → capture dicts.  Validates the sort invariant,
    re-derives each line's SURT from the JSON's original URL (a key
    that disagrees with its own record is index corruption), and
    numbers each URL's captures in parsed-timestamp order."""
    rows: list[dict] = []
    prev_sort_key: tuple[str, str] | None = None
    for line in data.decode("ascii").splitlines():
        if not line:
            continue
        key, ts, block_json = line.split(" ", 2)
        sort_key = (key, ts)
        if prev_sort_key is not None and sort_key < prev_sort_key:
            raise ValueError(f"CDX sort invariant violated at {key}")
        prev_sort_key = sort_key
        block = json.loads(block_json)
        # a corrupted line can still be VALID json — missing or
        # renamed fields must diagnose as index corruption, not
        # leak KeyError/AttributeError out of the batch
        required = {"url", "status", "mime", "digest", "length"}
        if not isinstance(block, dict) or required - block.keys():
            raise ValueError(
                f"CDX record at {key} is not a capture block "
                f"(missing {sorted(required - block.keys()) if isinstance(block, dict) else 'all fields'})"
            )
        if surt(block["url"]) != key:
            raise ValueError(
                f"key/record mismatch: {key} vs {block['url']!r}"
            )
        rows.append({
            "surt_key": key,
            "ts14": ts,
            "status": int(block["status"]),
            "mime": block["mime"],
            "digest": block["digest"],
            "length": int(block["length"]),
        })
    # captures of one key are adjacent (sort invariant just checked);
    # number them in timestamp order
    out: list[dict] = []
    i = 0
    while i < len(rows):
        j = i
        while j < len(rows) and rows[j]["surt_key"] == rows[i]["surt_key"]:
            j += 1
        for ci, row in enumerate(sorted(rows[i:j],
                                        key=lambda r: r["ts14"])):
            row["cap_idx"] = ci
            row["is_revisit"] = row["mime"] == "warc/revisit"
            out.append(row)
        i = j
    return out


# ========================================================== spark stage

CDX_SCHEMA = ("doc_id long, cap_idx int, surt_key string, ts14 string,"
              " status int, mime string, digest_x int, length int,"
              " is_revisit boolean")


def _cdx_rows(gid: int, rows: list[tuple]) -> list[tuple]:
    out = []
    for rec in parse_cdxj(build_cdxj([d for d, in rows])):
        m = _URL_ID_RE.search(rec["surt_key"])
        if m:
            out.append((
                int(m.group(1)), rec["cap_idx"], rec["surt_key"],
                rec["ts14"], rec["status"], rec["mime"],
                int(rec["digest"][1:]), rec["length"], rec["is_revisit"],
            ))
    return out


def cdx_roundtrip(docs: DataFrame,
                  num_partitions: int | None = None) -> DataFrame:
    """documents → CDX-J files → parse → one row per capture with the
    SURT key, ordered capture index and revisit verdict.  One Arrow
    stage after a doc_id-only scan (mapInPandas ships every input
    column, so the projection happens before the stage)."""
    return map_groups(spread(docs, ["doc_id"], num_partitions),
                      DOCS_PER_FILE, _cdx_rows, CDX_SCHEMA)


def cdx_latest(docs: DataFrame,
               num_partitions: int | None = None) -> DataFrame:
    """The classic index query — latest capture per URL: capture
    count, newest timestamp/digest, and whether any re-crawl was a
    revisit.  Computed FROM the parsed frame (max_by on the parsed
    ts14), so it inherits the roundtrip's gate; one partial-aggregable
    exchange on doc_id."""
    caps = cdx_roundtrip(docs, num_partitions)
    return caps.groupBy("doc_id", "surt_key").agg(
        F.count("*").cast("int").alias("caps"),
        F.max("ts14").alias("latest_ts14"),
        F.expr("max_by(digest_x, ts14)").alias("latest_digest_x"),
        F.max("is_revisit").alias("had_revisit"),
    )


# ============================================================== oracles

_DUCK_SURT = (
    "'com,example,h' || CAST(doc_id % 20 AS VARCHAR)"
    " || CASE WHEN doc_id % 7 = 3 THEN ':8080' ELSE '' END"
    " || ')/page/' || CAST(doc_id AS VARCHAR)"
    " || CASE WHEN doc_id % 5 = 0"
    "         THEN '?a=1&b=' || CAST(doc_id % 9 AS VARCHAR)"
    "         ELSE '' END"
)

_DUCK_TS = (f"(doc_id * {TS_MULT}) % {TS_MOD}"
            f" + ci * {TS_CAP_STEP}")


def duck_cdx_sql(source: str = "documents") -> str:
    """Closed-form twin of the writer arithmetic + canonicalization —
    equality proves the parse and the SURT derivation exactly."""
    return f"""
WITH caps AS (
  SELECT doc_id, ci
  FROM {source} CROSS JOIN (VALUES (0), (1), (2)) c(ci)
  WHERE ci <= doc_id % 3
)
SELECT doc_id,
       CAST(ci AS INT) AS cap_idx,
       {_DUCK_SURT} AS surt_key,
       strftime(TIMESTAMP '2024-01-01 00:00:00'
                + ({_DUCK_TS}) * INTERVAL 1 SECOND,
                '%Y%m%d%H%M%S') AS ts14,
       CAST(CASE WHEN doc_id % 13 = 5 THEN 404 ELSE 200 END AS INT)
         AS status,
       CASE WHEN ci > 0 AND doc_id % 4 = 2 THEN 'warc/revisit'
            ELSE 'text/html' END AS mime,
       CAST((doc_id * {DIGEST_MULT}
             + CASE WHEN doc_id % 4 = 2 THEN 0 ELSE ci END
               * {DIGEST_CAP_MULT}) % {DIGEST_MOD} AS INT) AS digest_x,
       CAST({LEN_BASE} + (doc_id * 3 + ci) % {LEN_MOD} AS INT)
         AS length,
       (ci > 0 AND doc_id % 4 = 2) AS is_revisit
FROM caps
"""


def duck_cdx_latest_sql(source: str = "documents") -> str:
    """Latest-capture twin: the newest capture is ci = doc_id % 3
    (timestamps are monotone in ci by construction)."""
    return f"""
SELECT doc_id,
       {_DUCK_SURT} AS surt_key,
       CAST(1 + doc_id % 3 AS INT) AS caps,
       strftime(TIMESTAMP '2024-01-01 00:00:00'
                + ((doc_id * {TS_MULT}) % {TS_MOD}
                   + (doc_id % 3) * {TS_CAP_STEP})
                  * INTERVAL 1 SECOND,
                '%Y%m%d%H%M%S') AS latest_ts14,
       CAST((doc_id * {DIGEST_MULT}
             + CASE WHEN doc_id % 4 = 2 THEN 0 ELSE doc_id % 3 END
               * {DIGEST_CAP_MULT}) % {DIGEST_MOD} AS INT)
         AS latest_digest_x,
       (doc_id % 3 > 0 AND doc_id % 4 = 2) AS had_revisit
FROM {source}
"""
