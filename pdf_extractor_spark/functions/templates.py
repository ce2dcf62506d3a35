"""Host-level template detection — intra-host content diversity.

SEO farms, calendar/archive cruft and parked domains emit thousands
of near-identical pages per host; corpus recipes (RefinedWeb-class)
filter at HOST granularity because page-level dedup alone leaves the
template's combinatorial variants.  The detector: per-host content
diversity = distinct SimHash signatures vs page count — a host whose
pages collapse onto a handful of signatures is template-dominated
and gets flagged for exclusion or heavy down-sampling.

Signatures come from the SAME engine-twin SimHash as the dedup stack
(``dedup.SIMHASH_BITS`` md5 construction — DuckDB reproduces it
bit-for-bit), so this operator's verdicts are consistent with
page-level near-dup decisions by construction.

Fixture shape (closed form, both engines): every fifth host profile
(``host_idx % 5 == 0``) is a TEMPLATED host — its pages' text is a
host-level boilerplate with a 4-variant slot (``pmod(doc_id, 4)``),
so those hosts collapse to ≤ 4 signatures regardless of page count;
the remaining hosts carry the real corpus text (fully diverse at
fixture scale).  The flag rule is integer cross-multiplication
(``n_sigs * 3 <= n_docs`` ⇔ diversity < 1/3), never a float ratio,
so the engines cannot drift at the threshold.

Scale shape (100 TB contract): signatures come from the SAME
Arrow/NumPy kernel as ``dedup.simhash_mapinpandas`` (the 60-bit vote
matrix is one NumPy reduction; the SQL higher-order form it replaced
re-walked the token-hash array 60× per row and measured 30× slower
on the full battery); the post-signature exchange carries (host,
simhash) pairs — fixed width, never text — and count-distinct per
host is exact and partially aggregable.  Host count bounds the
output, not the corpus.  The pre-Arrow repartition exists to spread
a single-split test table (same rationale as
``simhash_mapinpandas``); a production scan already arrives in many
splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans.pipeline import spread
from .robots import DUCK_HOST, SPARK_HOST

MIN_DOCS = 5        # below this a diversity verdict is noise
SIG_DEN = 3         # templated ⇔ n_sigs * SIG_DEN <= n_docs

_TEMPLATE_TEXT = ("nav home about contact copyright footer "
                  "boilerplate page variant")

_SPARK_VARIANT = (
    "CASE WHEN pmod(doc_id div 7, 5) = 0 "
    f"THEN concat('{_TEMPLATE_TEXT} ', cast(pmod(doc_id, 4) as string)) "
    "ELSE text END"
)

_DUCK_VARIANT = (
    "CASE WHEN (doc_id // 7) % 5 = 0 "
    f"THEN '{_TEMPLATE_TEXT} ' || CAST(doc_id % 4 AS VARCHAR) "
    "ELSE text END"
)


def host_template_report(docs: DataFrame) -> DataFrame:
    """(host, n_docs, n_sigs, dup_pct, templated) per host."""
    from collections.abc import Iterator

    import pandas as pd

    from .dedup import simhash_pandas

    variant = docs.select(
        "doc_id",
        F.expr(SPARK_HOST).alias("host"),
        F.expr(_SPARK_VARIANT).alias("text"),
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "host": pdf["host"].to_numpy(),
                    "simhash": simhash_pandas(list(pdf["text"])),
                }
            )

    sigs = spread(variant, ["doc_id", "host", "text"]).mapInPandas(
        fn, "host string, simhash long"
    )
    return (
        sigs.groupBy("host")
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.countDistinct("simhash").cast("int").alias("n_sigs"),
        )
        .select(
            "host", "n_docs", "n_sigs",
            F.expr("cast((n_docs - n_sigs) * 100 div n_docs as int)")
            .alias("dup_pct"),
            F.expr(f"n_docs >= {MIN_DOCS} AND "
                   f"n_sigs * {SIG_DEN} <= n_docs").alias("templated"),
        )
    )


def duck_templates_sql(source: str = "documents") -> str:
    """DuckDB twin — same host template, same variant text, same
    bit-exact SimHash, same integer threshold."""
    return f"""
WITH variant AS (
  SELECT doc_id, {DUCK_HOST} AS host, {_DUCK_VARIANT} AS text
  FROM {source}
),
toks AS (
  SELECT doc_id, host, unnest(string_split(text, ' ')) AS tok
  FROM variant
),
h AS (
  SELECT doc_id, host,
         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
  FROM toks
),
bits AS (
  SELECT doc_id, host, j,
         sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, generate_series(0, 59) t(j)
  GROUP BY doc_id, host, j
),
sigs AS (
  SELECT doc_id, host,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                  ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id, host
),
rollup_host AS (
  SELECT host,
         CAST(count(*) AS INT) AS n_docs,
         CAST(count(DISTINCT simhash) AS INT) AS n_sigs
  FROM sigs GROUP BY host
)
SELECT host, n_docs, n_sigs,
       CAST((n_docs - n_sigs) * 100 // n_docs AS INT) AS dup_pct,
       (n_docs >= {MIN_DOCS} AND n_sigs * {SIG_DEN} <= n_docs)
         AS templated
FROM rollup_host
"""
