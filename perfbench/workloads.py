"""Seeded workload generator: pages tables plus their oracles.

Every workload is a pages table ``(url, warc_ts, html, text, lang)``
built from three sources, with the seed choosing ids, order and
texts:

- documents-style texts: 10-100 words drawn uniformly from the 31-word
  vocabulary of the engine's ``documents`` test table, wrapped by
  ``sources.docwrap`` into PDF or HTML payloads whose correct
  extraction is the text itself. The table itself is not read, since
  the benchmark uses only files inside the checkout; over 20,000 draws
  the texts run 42 / 75 / 298 / 522 / 581 chars (min / p5 / median /
  p95 / max) against the table's 44 / 78 / 295 / 519 / 577;
- the fixture corpus (``fixtures.corpus.fixture_cases``), replicated
  under unique urls, whose correct extraction is ``tests/golden``;
- long PDFs built with ``operators.pdf_generator.build_pdf``, whose
  oracle is the serial ``extract_document`` output.

The docwrap payloads and the long PDFs are built, and the long PDFs'
oracles computed, in a pool of ``cores`` processes: serially that
takes longer than the session set-up.

Ids are drawn so that every residue class mod 420 occurs equally
often: docwrap rotates transport and writer variants on ``doc_id``
modulo 2, 3, 4, 5 and 7, so the variant mix (and with it the work per
table) is the same for every seed while the ids, texts and order
differ.

The generator runs outside every timed region.
"""

from __future__ import annotations

import datetime as dt
import multiprocessing
import os
import random
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extractor_spark.fixtures.corpus import fixture_cases
from pdf_extractor_spark.operators.document import extract_document
from pdf_extractor_spark.operators.pdf_generator import PageSpec, build_pdf
from pdf_extractor_spark.sources.docwrap import (
    wrap_html_transport,
    wrap_pdf_layout,
)

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort "
    "spark stream table the value vector window"
).split()
LANGS = ("en", "en", "de", "es", "fr", "zh")
BASE_TS = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
ROTATION = 420  # lcm of the docwrap rotation moduli 2, 3, 4, 5, 7

# Table sizes, fixed per workload so that every seed does equal work.
# pdf_mixed is sized so that the extraction kernel, not the per-task
# Python worker start-up, takes most of the Python stage's time. On a
# 4-core box, summed over a job's tasks: at 514 rows worker start-up
# took about 6 s against 2.9 s of kernel (``batch_ms``); at these
# 3,079 rows it takes about 6 s against 16 s. recrawl_resume stores
# 7,840 urls; its job time barely grows with the table (half of it
# took 6.9 s a job, all of it 7.3 s), because fixed per-call costs
# dominate there.
PDF_DOCWRAP = 2520
PDF_FIXTURE_COPIES = 12
PDF_LONG = 31  # 1 % of the table
HTML_DOCWRAP = 6720
HTML_FIXTURE_COPIES = 32
RECRAWL_STORED_DOCWRAP = 6720
RECRAWL_STORED_FIXTURE_COPIES = 32
RECRAWL_NEW_FRAC = 0.10
RECRAWL_CHANGED_FRAC = 0.10

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass
class Page:
    url: str
    warc_ts: dt.datetime
    html: bytes
    text: str
    lang: str
    kind: str  # docwrap_pdf | docwrap_html | fixture_pdf | fixture_html | long_pdf
    oracle: str  # expected extracted_text


@dataclass
class Workload:
    name: str
    seed: int
    pages: list[Page]
    # recrawl_resume only: the stored corpus and the recrawl batch
    stored: list[Page] = field(default_factory=list)
    recrawl: list[Page] = field(default_factory=list)

    def composition(self) -> dict:
        """Rows, bytes and mix of every table the workload feeds."""
        out = {"pages": _composition(self.pages)}
        if self.stored:
            out["stored"] = _composition(self.stored)
            out["recrawl"] = _composition(self.recrawl)
        return out


def _composition(pages: list[Page]) -> dict:
    kinds = Counter(p.kind for p in pages)
    transport = Counter()
    writer = Counter()
    for p in pages:
        doc_id = _doc_id(p.url)
        if p.kind == "docwrap_html":
            transport[f"t{doc_id % 7}_h{doc_id % 3}"] += 1
        elif p.kind == "docwrap_pdf":
            writer[f"w{doc_id % 3}_e{int(doc_id % 5 == 0 and doc_id % 3 != 2)}"] += 1
    n_pdf = sum(v for k, v in kinds.items() if k.endswith("pdf"))
    return {
        "rows": len(pages),
        "payload_bytes": sum(len(p.html) for p in pages),
        "pdf_rows": n_pdf,
        "html_rows": len(pages) - n_pdf,
        "long_pdf_share": kinds["long_pdf"] / max(1, len(pages)),
        "kinds": dict(sorted(kinds.items())),
        "html_transport_variants": dict(sorted(transport.items())),
        "pdf_writer_variants": dict(sorted(writer.items())),
    }


def _doc_id(url: str) -> int:
    tail = url.rsplit("/", 1)[-1]
    return int(tail) if tail.isdigit() else -1


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))


def _ids(rng: random.Random, n: int) -> list[int]:
    """``n`` distinct ids, residues mod ROTATION spread evenly."""
    blocks = rng.sample(range(1, 10**6), n // ROTATION + 1)
    return [blocks[i // ROTATION] * ROTATION + i % ROTATION for i in range(n)]


def _ts(rng: random.Random) -> dt.datetime:
    return BASE_TS + dt.timedelta(seconds=rng.randrange(86400 * 30))


def _docwrap(rng: random.Random, n: int, branch: str, host: str,
             pool) -> list[Page]:
    rows = [(doc_id, _text(rng), _ts(rng), rng.choice(LANGS))
            for doc_id in _ids(rng, n)]
    wrap = wrap_pdf_layout if branch == "pdf" else wrap_html_transport
    kind = f"docwrap_{branch}"
    payloads = pool.starmap(
        wrap, [(text, doc_id) for doc_id, text, _ts_, _lang in rows],
        chunksize=64,
    )
    return [
        Page(f"https://{host}/{branch}/{doc_id}", ts, payload, text, lang,
             kind, text)
        for (doc_id, text, ts, lang), payload in zip(rows, payloads)
    ]


def _fixtures(
    rng: random.Random, branch: str, copies: int, host: str, golden_dir: str
) -> list[Page]:
    out = []
    for cid, b, lang, payload in fixture_cases():
        if b != branch:
            continue
        with open(os.path.join(golden_dir, f"{cid}.txt"), "rb") as fh:
            golden = fh.read().decode("utf-8")
        for _ in range(copies):
            out.append(
                Page(f"https://{host}/fixture/{cid}/{rng.getrandbits(48):x}",
                     _ts(rng), payload, "", lang, f"fixture_{branch}", golden)
            )
    return out


def long_pdf(rng: random.Random, n_pages: int) -> bytes:
    """An ``n_pages`` document of 30 lines a page, 8-12 words a line."""
    pages = []
    for _ in range(n_pages):
        page = PageSpec()
        for line in range(30):
            words = [rng.choice(VOCAB) for _ in range(rng.randint(8, 12))]
            page.put_words(72.0, 60.0 + 22.0 * line, 11.0, words)
        pages.append(page)
    return build_pdf(pages)


def _long_with_oracle(seed: int, n_pages: int) -> tuple[bytes, str]:
    payload = long_pdf(random.Random(seed), n_pages)
    return payload, extract_document(payload)["extracted_text"]


def _long(rng: random.Random, n: int, host: str, pool) -> list[Page]:
    # page counts spread evenly over 20-40, so each seed carries the
    # same total pages
    counts = [20 + round(20 * i / max(1, n - 1)) for i in range(n)]
    rng.shuffle(counts)
    rows = [(f"https://{host}/long/{rng.getrandbits(48):x}", _ts(rng),
             rng.getrandbits(64), c) for c in counts]
    built = pool.starmap(_long_with_oracle,
                         [(seed, c) for _url, _ts_, seed, c in rows])
    return [
        Page(url, ts, payload, "", "en", "long_pdf", oracle)
        for (url, ts, _seed, _c), (payload, oracle) in zip(rows, built)
    ]


def generate(name: str, seed: int, golden_dir: str, processes: int) -> Workload:
    """The workload ``name`` for ``seed``, built with ``processes``
    worker processes, which have all ended when this returns."""
    ctx = multiprocessing.get_context("fork")
    with ctx.Pool(processes) as pool:
        wl = WORKLOADS[name](seed, golden_dir, pool)
        pool.close()
        pool.join()
    return wl


def pdf_mixed(seed: int, golden_dir: str, pool) -> Workload:
    rng = random.Random(seed)
    pages = (
        _docwrap(rng, PDF_DOCWRAP, "pdf", "pdf.test", pool)
        + _fixtures(rng, "pdf", PDF_FIXTURE_COPIES, "pdf.test", golden_dir)
        + _long(rng, PDF_LONG, "pdf.test", pool)
    )
    rng.shuffle(pages)
    return Workload("pdf_mixed", seed, pages)


def _html_corpus(rng: random.Random, golden_dir: str, host: str,
                 n_docwrap: int, fixture_copies: int, pool) -> list[Page]:
    pages = _docwrap(rng, n_docwrap, "html", host, pool) + _fixtures(
        rng, "html", fixture_copies, host, golden_dir
    )
    rng.shuffle(pages)
    return pages


def html_crawl(seed: int, golden_dir: str, pool) -> Workload:
    rng = random.Random(seed)
    pages = _html_corpus(rng, golden_dir, "web.test", HTML_DOCWRAP,
                         HTML_FIXTURE_COPIES, pool)
    return Workload("html_crawl", seed, pages)


def recrawl_resume(seed: int, golden_dir: str, pool) -> Workload:
    """Stored corpus, plus a resume batch (every stored url and ~10 %
    new ones) and a recrawl batch (~10 % of the stored docwrap urls
    with a newer ``warc_ts`` and new text)."""
    rng = random.Random(seed)
    stored = _html_corpus(rng, golden_dir, "web.test", RECRAWL_STORED_DOCWRAP,
                          RECRAWL_STORED_FIXTURE_COPIES, pool)
    n_new = int(len(stored) * RECRAWL_NEW_FRAC)
    new = _docwrap(rng, n_new, "html", "new.test", pool)
    pages = stored + new
    rng.shuffle(pages)
    docwrap = [p for p in stored if p.kind == "docwrap_html"]
    changed = rng.sample(docwrap, int(len(stored) * RECRAWL_CHANGED_FRAC))
    recrawl = []
    for old in changed:
        text = _text(rng)
        recrawl.append(
            Page(old.url, old.warc_ts + dt.timedelta(days=1),
                 wrap_html_transport(text, _doc_id(old.url)), text,
                 old.lang, "docwrap_html", text)
        )
    return Workload("recrawl_resume", seed, pages, stored, recrawl)


WORKLOADS = {
    "pdf_mixed": pdf_mixed,
    "html_crawl": html_crawl,
    "recrawl_resume": recrawl_resume,
}


def write_pages(pages: list[Page], path: str, n_files: int) -> None:
    """Write ``pages`` as a parquet directory of ``n_files`` files."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(pages) // n_files)
    for i in range(0, len(pages), step):
        chunk = pages[i:i + step]
        table = pa.table(
            {
                "url": [p.url for p in chunk],
                "warc_ts": [p.warc_ts for p in chunk],
                "html": [p.html for p in chunk],
                "text": [p.text for p in chunk],
                "lang": [p.lang for p in chunk],
            },
            schema=PAGES_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{i // step:05d}.parquet"))


def warmup_pages(golden_dir: str) -> list[Page]:
    """The fixed, seed-independent table of the session warm-up job:
    the fixture HTML cases once each."""
    return _fixtures(random.Random(0), "html", 1, "warm.test", golden_dir)
