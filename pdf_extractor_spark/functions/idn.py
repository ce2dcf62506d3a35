"""Internationalized domain names: from-scratch RFC 3492 Punycode
and the host-to-ASCII fold a crawl frontier needs.

Every URL surface in the engine (canonicalization, dedup keys,
politeness grouping, the leakage split) assumes one canonical host
string — but crawls see the SAME host both ways: ``bücher.example``
in anchor hrefs and ``xn--bcher-kva.example`` on the wire. Folding
to the ASCII (ACE) form is the IDNA convention, and the encoder is
Punycode (RFC 3492): a generalized variable-length integer encoding
of code-point insertions with bias adaptation. Implemented from the
published algorithm, not a library.

Verification design: Punycode's loop structure is not expressible in
SQL, so the oracle uses Python's STDLIB ``idna`` codec — an
independent implementation — to precompute expected ACE forms for
the deterministic fixture hosts at SQL-generation time. The driver
gate therefore compares a from-scratch encoder against CPython's C
implementation value-for-value, which is stronger than a same-code
twin.

Scale shape: host folding is a per-row kernel over DISTINCT hosts
(orders of magnitude fewer than pages), applied Arrow-batched; the
fixture entry keeps it narrow-map-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.pipeline import map_rows, spread

# RFC 3492 §5 parameter values
_BASE = 36
_TMIN, _TMAX = 1, 26
_SKEW, _DAMP = 38, 700
_INITIAL_BIAS = 72
_INITIAL_N = 128


def _adapt(delta: int, numpoints: int, firsttime: bool) -> int:
    delta = delta // _DAMP if firsttime else delta // 2
    delta += delta // numpoints
    k = 0
    while delta > ((_BASE - _TMIN) * _TMAX) // 2:
        delta //= _BASE - _TMIN
        k += _BASE
    return k + (((_BASE - _TMIN + 1) * delta) // (delta + _SKEW))


def _digit_char(d: int) -> str:
    return chr(d + 22 + 75 * (d < 26))  # a-z then 0-9


def punycode_encode(label: str) -> str:
    """RFC 3492 §6.3 encoder: unicode label → punycode body (without
    the ``xn--`` prefix)."""
    out = [c for c in label if ord(c) < 128]
    basic = len(out)
    if basic:
        out.append("-")
    n, delta, bias = _INITIAL_N, 0, _INITIAL_BIAS
    h = basic
    points = sorted({ord(c) for c in label if ord(c) >= 128})
    total = len(label)
    for m in points:
        delta += (m - n) * (h + 1)
        n = m
        for c in label:
            cp = ord(c)
            if cp < n:
                delta += 1
            elif cp == n:
                q = delta
                k = _BASE
                while True:
                    t = (
                        _TMIN
                        if k <= bias
                        else (_TMAX if k >= bias + _TMAX else k - bias)
                    )
                    if q < t:
                        break
                    out.append(_digit_char(t + (q - t) % (_BASE - t)))
                    q = (q - t) // (_BASE - t)
                    k += _BASE
                out.append(_digit_char(q))
                bias = _adapt(delta, h + 1, h == basic)
                delta = 0
                h += 1
        delta += 1
        n += 1
    return "".join(out)


def host_to_ascii(host: str) -> str:
    """IDNA-style ACE fold: lowercase, encode each non-ASCII label
    as ``xn--`` + punycode; pure-ASCII labels pass through."""
    labels = host.lower().split(".")
    out = []
    for lab in labels:
        if all(ord(c) < 128 for c in lab):
            out.append(lab)
        else:
            out.append("xn--" + punycode_encode(lab))
    return ".".join(out)


# ----------------------------------------------------- fixture entry

# deterministic IDN host pool: real-script labels the fixture
# schedule cycles through (the stdlib oracle encodes them
# independently at SQL-generation time)
IDN_HOSTS = (
    "bücher.example",
    "mañana.example",
    "点心.example",
    "пример.example",
    "παράδειγμα.example",
    "คน.example",
    "نامه.example",
    "plain-ascii.example",
)


def fixture_idn_host(doc_id: int) -> str:
    return IDN_HOSTS[doc_id % len(IDN_HOSTS)]


def idn_fold_report(docs: DataFrame,
                    num_partitions: int | None = None) -> DataFrame:
    """(doc_id, host_unicode, host_ascii): the ACE fold over the
    deterministic fixture hosts, Arrow-batched."""

    def rows(doc_id: int) -> list[tuple]:
        host = fixture_idn_host(doc_id)
        return [(doc_id, host, host_to_ascii(host))]

    return map_rows(
        spread(docs, ["doc_id"], num_partitions), rows,
        "doc_id long, host_unicode string, host_ascii string",
    )


def duck_idn_fold_sql(source: str = "documents") -> str:
    """Oracle with ACE forms computed by the STDLIB ``idna`` codec —
    an independent implementation of the same RFCs."""
    cases_u = " ".join(
        f"WHEN {i} THEN '{h}'" for i, h in enumerate(IDN_HOSTS)
    )
    cases_a = " ".join(
        "WHEN {} THEN '{}'".format(
            i,
            (
                h.encode("idna").decode("ascii")
                if any(ord(c) >= 128 for c in h)
                else h
            ),
        )
        for i, h in enumerate(IDN_HOSTS)
    )
    n = len(IDN_HOSTS)
    return f"""
SELECT doc_id,
       CASE doc_id % {n} {cases_u} END AS host_unicode,
       CASE doc_id % {n} {cases_a} END AS host_ascii
FROM {source}
"""
