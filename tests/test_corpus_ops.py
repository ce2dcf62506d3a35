"""Tests for corpus-management operators (round 2): cross-doc n-gram
overlap dedup, per-domain capping, deterministic hash sampling."""

from __future__ import annotations

from pdf_extractor_spark.functions.dedup import ngram_overlap_pairs
from pdf_extractor_spark.functions.sampling import (
    domain_cap_stats,
    hash_sample_stats,
)

BASE = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestNgramOverlap:
    def test_containment_detected(self, spark):
        # doc 2 quotes a 10-word chunk of doc 1 inside unrelated text:
        # Jaccard over full shingle sets is low, but exact 5-gram
        # overlap sees the shared chunk
        chunk = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
        other = "one two three four five six seven eight nine ten " * 3
        docs = _docs(
            spark, [(1, BASE), (2, other.strip() + " " + chunk)]
        )
        pairs = ngram_overlap_pairs(docs, min_shared=3).collect()
        assert len(pairs) == 1
        assert (pairs[0].doc_a, pairs[0].doc_b) == (1, 2)
        assert pairs[0].n_shared == 6  # 10-word chunk -> 6 5-grams

    def test_unrelated_docs_no_pair(self, spark):
        docs = _docs(
            spark,
            [(1, BASE), (2, "zz yy xx ww vv uu tt ss rr qq pp oo")],
        )
        assert ngram_overlap_pairs(docs).count() == 0

    def test_frequency_cap_drops_boilerplate(self, spark):
        # the same boilerplate gram in MANY docs must not create pairs
        boiler = "all rights reserved by the site owner today"
        rows = [(i, f"unique{i} word{i} tail{i} " + boiler) for i in range(30)]
        pairs = ngram_overlap_pairs(
            _docs(spark, rows), min_shared=1, max_gram_freq=20
        )
        assert pairs.count() == 0  # df=30 > cap=20 -> grams dropped
        # with the cap above the corpus size the blowup happens
        blown = ngram_overlap_pairs(
            _docs(spark, rows), min_shared=1, max_gram_freq=50
        )
        assert blown.count() == 30 * 29 / 2

    def test_short_docs_no_grams(self, spark):
        docs = _docs(spark, [(1, "too short"), (2, "too short")])
        assert ngram_overlap_pairs(docs).count() == 0


def _corpus(spark, n=40):
    rows = [
        (i, f"text {i}", "en" if i % 2 == 0 else "ja", f"src{i % 3}", 7)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


class TestDomainCap:
    def test_cap_applied_per_host(self, spark):
        out = {
            r.host: (r.n_docs, r.n_kept)
            for r in domain_cap_stats(_corpus(spark, 40), k=5).collect()
        }
        assert len(out) == 3
        for host, (n_docs, n_kept) in out.items():
            assert host.endswith(".example.com")
            assert n_kept == min(n_docs, 5)

    def test_no_cap_when_under(self, spark):
        out = domain_cap_stats(_corpus(spark, 9), k=5).collect()
        assert all(r.n_kept == r.n_docs for r in out)


class TestHashSample:
    def test_deterministic_across_runs(self, spark):
        a = hash_sample_stats(_corpus(spark, 40)).collect()
        b = hash_sample_stats(
            _corpus(spark, 40).repartition(7)
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_fraction_near_pct(self, spark):
        rows = hash_sample_stats(_corpus(spark, 400), pct=10).collect()
        total = sum(r.n_docs for r in rows)
        sampled = sum(r.n_sampled for r in rows)
        assert total == 400
        assert 0.04 <= sampled / total <= 0.2  # 10% +- noise


class TestUrlCanonical:
    def test_canonical_url_rules(self, spark):
        from pyspark.sql import functions as F

        from pdf_extractor_spark.functions.urlnorm import canonical_url

        cases = [
            # (raw, expected canonical)
            ("HTTP://WWW.Ex.COM:80/Path?b=2&a=1#frag",
             "http://www.ex.com/Path?a=1&b=2"),
            ("https://ex.com:443/", "https://ex.com/"),
            ("https://ex.com", "https://ex.com/"),
            ("https://ex.com/x?utm_source=a&utm_medium=b&gclid=1",
             "https://ex.com/x"),
            ("https://ex.com:8443/x?z=1", "https://ex.com:8443/x?z=1"),
            ("http://ex.com:443/x", "http://ex.com:443/x"),
            ("https://ex.com/x?ref=tw&q=cats&fbclid=9",
             "https://ex.com/x?q=cats"),
        ]
        df = spark.createDataFrame(
            [(i, r) for i, (r, _e) in enumerate(cases)], "i long, url string"
        ).withColumn("canon", canonical_url(F.col("url")))
        got = {r["i"]: r["canon"] for r in df.collect()}
        for i, (_raw, exp) in enumerate(cases):
            assert got[i] == exp, (cases[i], got[i])

    def test_report_matches_duckdb_oracle(self, spark):
        import duckdb

        from pdf_extractor_spark.functions.query_catalog import CATALOG

        qd = CATALOG["corpus_url_canonical"]
        sf = "/root/testdata/sf0.001"
        got = (
            qd.spark(spark, sf)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')"
        )
        exp = (
            con.execute(qd.oracle)
            .df()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert list(got.doc_id) == list(exp.doc_id)
        assert list(got.canonical_url) == list(exp.canonical_url)
        assert list(got.is_kept) == list(exp.is_kept)
        assert got.is_kept.sum() == 125  # 4-doc clusters, lowest kept


class TestPiiScrub:
    def test_rules_and_order(self, spark):
        from pyspark.sql import functions as F

        from pdf_extractor_spark.functions.pii import pii_counts, scrub_pii

        rows = [
            (1, "mail me at a.b+c@ex-site.org today"),
            (2, "SSN 987-65-4321 leaked"),
            (3, "server 192.168.1.254 and phone +44 (020) 555-1234"),
            (4, "no pii here at all"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = df.select(
            "doc_id", *pii_counts(F.col("text")),
            scrub_pii(F.col("text")).alias("s"),
        ).collect()
        by = {r["doc_id"]: r for r in out}
        assert by[1]["n_email"] == 1 and "<EMAIL>" in by[1]["s"]
        assert "a.b+c" not in by[1]["s"]
        assert by[2]["n_ssn"] == 1 and "<SSN>" in by[2]["s"]
        assert by[3]["n_ip"] == 1 and by[3]["n_phone"] == 1
        assert "<IP>" in by[3]["s"] and "<PHONE>" in by[3]["s"]
        assert by[4]["s"] == "no pii here at all"

    def test_phone_boundary_guards_keep_serials(self, spark):
        # mid-digit-run substrings are serials/dates/IDs, not phones:
        # without \b anchors "released 20240101-5678" scrubbed
        # "240101-5678" and corrupted kept text
        from pyspark.sql import functions as F

        from pdf_extractor_spark.functions.pii import pii_counts, scrub_pii

        rows = [
            (1, "released 20240101-5678 build"),
            (2, "order 123456-7890 shipped"),
            (3, "call 555-123-4567 now"),
            (4, "dial (555) 123-4567 today"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = df.select(
            "doc_id", *pii_counts(F.col("text")),
            scrub_pii(F.col("text")).alias("s"),
        ).collect()
        by = {r["doc_id"]: r for r in out}
        assert by[1]["n_phone"] == 0 and by[1]["s"] == rows[0][1]
        assert by[2]["n_phone"] == 0 and by[2]["s"] == rows[1][1]
        assert by[3]["n_phone"] == 1 and "<PHONE>" in by[3]["s"]
        assert by[4]["n_phone"] == 1 and "<PHONE>" in by[4]["s"]

    def test_phone_rule_matches_duckdb_twin(self, spark):
        # the Spark pattern and the DuckDB twin share PII_RULES — a
        # dialect divergence on the new \b anchors would split them
        import duckdb

        from pdf_extractor_spark.functions.pii import PII_RULES

        texts = [
            "released 20240101-5678 build",
            "order 123456-7890 shipped",
            "call 555-123-4567 now",
            "dial (555) 123-4567 today",
            "intl +44 (020) 555-1234 line",
            "+1 (555) 010-0042 direct",
        ]
        pat = PII_RULES[-1][0]
        con = duckdb.connect()
        for t in texts:
            duck = con.execute(
                "SELECT regexp_replace(?, ?, '<PHONE>', 'g')", [t, pat]
            ).fetchone()[0]
            from pyspark.sql import functions as F
            sp = (
                spark.range(1)
                .select(
                    F.regexp_replace(F.lit(t), pat, "<PHONE>").alias("s")
                )
                .collect()[0]["s"]
            )
            assert sp == duck, t

    def test_counts_precede_replacement_interference(self, spark):
        # the email's digits must not also be counted as a phone
        from pyspark.sql import functions as F

        from pdf_extractor_spark.functions.pii import pii_counts

        df = spark.createDataFrame(
            [(1, "reach 555-010-9999@example.com ok")],
            "doc_id long, text string",
        )
        r = df.select(*pii_counts(F.col("text"))).collect()[0]
        assert r["n_email"] == 1 and r["n_phone"] == 0


class TestLineDedup:
    def test_boilerplate_dropped_everywhere(self, spark):
        from pdf_extractor_spark.functions.dedup import (
            LINE_BOILERPLATE,
            line_dedup_report,
        )
        rows = [
            (i, f"unique line for document {i:03d} " + f"t{i:03d} " * 30)
            for i in range(30)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = line_dedup_report(docs, min_count=3).collect()
        # every 7th doc had the banner planted as line 2 → dropped
        for r in out:
            assert LINE_BOILERPLATE not in r["kept_text"]
        planted = [r for r in out if r["doc_id"] % 7 == 0]
        assert planted and all(r["n_lines_kept"] == 2 for r in planted)

    def test_plan_broadcasts_hot_lines(self, spark):
        from pdf_extractor_spark.functions.query_catalog import CATALOG

        df = CATALOG["corpus_line_dedup"].spark(
            spark, "/root/testdata/sf0.001"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "CartesianProduct" not in plan


class TestBm25:
    def test_scores_match_hand_computation(self, spark):
        import math

        from pdf_extractor_spark.functions.search import bm25_topk

        docs = spark.createDataFrame(
            [
                (1, "spark spark merge"),
                (2, "spark window"),
                (3, "other words only here"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r["score"]
            for r in bm25_topk(
                docs, query_terms=("spark",), k=3
            ).collect()
        }
        # N=3, df=2 -> idf = ln((3-2+0.5)/(2+0.5)+1); avgdl = 9/3
        idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
        def s(tf, dl):
            return round(
                idf * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 3.0)), 6
            )
        assert out == {1: s(2, 3), 2: s(1, 2)}
        assert out[1] > out[2]  # higher tf wins
        assert 3 not in out     # no query term -> no row

    def test_plan_broadcasts_query_side(self, spark):
        from pdf_extractor_spark.functions.query_catalog import CATALOG

        df = CATALOG["search_bm25_topk"].spark(
            spark, "/root/testdata/sf0.001"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan  # top-k, no full sort


class TestSpanDedup:
    DOCS = "/root/testdata/sf0.001/documents.parquet"

    def test_planted_span_removed_exactly(self, spark):
        # controlled corpus with collision-free unique words: the ONLY
        # duplicated windows are the injected boilerplate span
        from pdf_extractor_spark.functions.dedup import (
            span_dedup_report,
        )
        rows = [
            (i, " ".join(f"w{i}x{j}" for j in range(20)))
            for i in range(0, 100)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        original = dict(rows)
        got = {
            r["doc_id"]: r for r in span_dedup_report(docs).collect()
        }
        assert set(got) == set(original)
        for doc_id, row in got.items():
            if doc_id % 5 == 0:
                # the injected 12-word span is stride-aligned into two
                # hot windows covering exactly the span -> removal
                # restores the original text byte-for-byte
                assert row["n_dup_windows"] == 2, doc_id
            else:
                assert row["n_dup_windows"] == 0, doc_id
            assert row["kept_text"] == original[doc_id], doc_id
            assert row["n_words_kept"] == 20

    def test_fixture_corpus_invariants(self, spark):
        # the real fixture corpus has natural cross-doc windows too;
        # check structural invariants + boilerplate always gone
        from pdf_extractor_spark.functions.dedup import (
            SPAN_BOILERPLATE,
            span_dedup_report,
        )
        docs = spark.read.parquet(self.DOCS)
        for r in span_dedup_report(docs).collect():
            assert SPAN_BOILERPLATE not in r["kept_text"]
            assert r["n_words_kept"] == len(r["kept_text"].split(" "))
            if r["doc_id"] % 5 == 0:
                assert r["n_dup_windows"] >= 2

    def test_short_docs_pass_through(self, spark):
        from pdf_extractor_spark.functions.dedup import (
            span_dedup_report,
        )
        docs = spark.createDataFrame(
            [(1, "only three words"), (2, "only three words")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in span_dedup_report(docs).collect()}
        for r in got.values():
            assert r["n_dup_windows"] == 0
            assert r["kept_text"] == "only three words"

    def test_text_never_shuffles(self, spark):
        import re

        from pdf_extractor_spark.functions.dedup import (
            span_dedup_report,
        )
        docs = spark.read.parquet(self.DOCS)
        df = span_dedup_report(docs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # removal stage: one Arrow map, zero exchanges — the hot-hash
        # set rode along as a closure constant, text stayed in place
        assert plan.count("MapInPandas") == 1
        assert "Exchange" not in plan, plan


class TestReviewRegressionsR4:
    def test_phone_plus_prefix_consumed(self, spark):
        # "\b\+?" could never assert when '+' followed a space, so the
        # country-code '+' leaked into scrubbed text as a stray char
        from pyspark.sql import functions as F

        from pdf_extractor_spark.functions.pii import scrub_pii

        rows = [
            (1, "+1 555-123-4567"),
            (2, "call +12 (555) 123-4567 now"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        by = {
            r.doc_id: r.s
            for r in df.select(
                "doc_id", scrub_pii(F.col("text")).alias("s")
            ).collect()
        }
        assert by[1] == "<PHONE>"
        assert by[2] == "call <PHONE> now"

    def test_span_sql_twin_keeps_fully_covered_docs(self, spark):
        # a doc whose EVERY word is covered by hot windows must emit a
        # (0, '') row from BOTH engines — the old SQL dropped it
        import duckdb
        import pandas as pd

        from pdf_extractor_spark.functions.dedup import (
            SPAN_K,
            duck_span_dedup_sql,
            span_dedup_report,
        )

        text = " ".join(f"dup{j}" for j in range(SPAN_K))
        rows = [(i, text) for i in (1, 2, 3, 6)]  # %5!=0: no injection
        sdf = (
            span_dedup_report(
                spark.createDataFrame(rows, "doc_id long, text string")
            )
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert len(sdf) == 4
        assert (sdf.n_words_kept == 0).all()
        assert (sdf.kept_text == "").all()
        con = duckdb.connect()
        con.register(
            "docs_t", pd.DataFrame(rows, columns=["doc_id", "text"])
        )
        odf = (
            con.execute(duck_span_dedup_sql(source="docs_t"))
            .df()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        odf = odf[sdf.columns].astype(sdf.dtypes.to_dict())
        assert sdf.equals(odf)

    def test_bpe_sql_twin_handles_irregular_whitespace(self, spark):
        # consecutive/leading/trailing spaces: the Python side drops
        # '' tokens; the SQL twin must too (and an all-space doc must
        # still emit its 0/0 row)
        import duckdb
        import pandas as pd

        from pdf_extractor_spark.functions.bpe import (
            BPE_COUNTS_SQL,
            bpe_token_counts,
        )

        # lexicon words only (the oracle is a frozen VALUES lookup);
        # the irregularity under test is the WHITESPACE
        rows = [
            (1, "data  hash"),      # double space
            (2, " group filter "),
            (3, "   "),             # only spaces -> 0 words
            (4, "data hash group"),
        ]
        sdf = (
            bpe_token_counts(
                spark.createDataFrame(rows, "doc_id long, text string")
            )
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert sdf[sdf.doc_id == 3].n_words.iloc[0] == 0
        assert sdf[sdf.doc_id == 1].n_words.iloc[0] == 2
        con = duckdb.connect()
        con.register(
            "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
        )
        odf = (
            con.execute(BPE_COUNTS_SQL)
            .df()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        odf = odf[sdf.columns].astype(sdf.dtypes.to_dict())
        assert sdf.equals(odf)

    def test_bpe_sql_twin_poisons_on_lexicon_drift(self, spark):
        # a word OUTSIDE the frozen lexicon must NULL the doc's oracle
        # sum (plain sum() would skip it and silently undercount)
        import duckdb
        import math
        import pandas as pd

        from pdf_extractor_spark.functions.bpe import BPE_COUNTS_SQL

        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(
                [(1, "data notinlexicon hash")],
                columns=["doc_id", "text"],
            ),
        )
        row = con.execute(BPE_COUNTS_SQL).df().iloc[0]
        assert row.n_words == 3
        assert math.isnan(row.n_bpe_tokens)


class TestFilterRecipe:
    def test_recipe_equals_conjunction_of_legs(self, spark):
        from pyspark.sql import functions as F

        from pdf_extractor_spark.functions.quality_model import (
            quality_classifier,
        )
        from pdf_extractor_spark.functions.recipe import (
            pretraining_filter,
        )
        from pdf_extractor_spark.functions.textstats import (
            c4_rules,
            fingerprints,
            gopher_rules,
            webify,
        )
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        got = {r.doc_id: r for r in pretraining_filter(docs).collect()}
        g = {
            r.doc_id: r.gopher_pass
            for r in gopher_rules(docs, text_col=webify()).collect()
        }
        c = {
            r.doc_id: r.c4_keep
            for r in c4_rules(docs, text_col=webify()).collect()
        }
        q = {
            r.doc_id: r.keep for r in quality_classifier(docs).collect()
        }
        fp = {}
        for r in fingerprints(docs).collect():
            fp.setdefault(r.fingerprint, []).append(r.doc_id)
        canon = {min(ids) for ids in fp.values()}
        assert set(got) == set(g)
        for d, row in got.items():
            legs = (g[d], c[d], q[d], d in canon)
            assert (
                row.gopher_pass, row.c4_keep, row.model_keep,
                row.is_canonical,
            ) == legs, d
            assert row.keep == all(legs), d
        # each leg discriminates and some docs survive all four
        vals = list(got.values())
        assert any(r.keep for r in vals)
        for leg in ("gopher_pass", "c4_keep", "model_keep"):
            assert 0 < sum(getattr(r, leg) for r in vals) < len(vals)

    def test_canonical_leg_discriminates_on_planted_dups(self, spark):
        # the fixture tables are duplicate-free, so the is_canonical
        # leg is exercised with planted exact duplicates: a wrong
        # canonical rule (max instead of min, or constant True) fails
        from pdf_extractor_spark.functions.recipe import (
            pretraining_filter,
        )
        rows = [
            (3, "unique page three body text here today"),
            (11, "the shared duplicate page body"),
            (42, "the shared duplicate page body"),
            (57, "another unique body of words"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in pretraining_filter(docs).collect()}
        assert got[11].is_canonical and not got[42].is_canonical
        assert got[3].is_canonical and got[57].is_canonical
        assert not got[42].keep  # the non-canonical copy never keeps

    def test_catalog_entry_canonical_leg_non_vacuous(self, spark):
        # the planted-dup CASE in the catalog entry must yield
        # non-canonical rows at the driver's own scale factor
        from pdf_extractor_spark.functions.query_catalog import (
            _filter_recipe,
        )
        pdf = _filter_recipe(
            spark, "/root/testdata/sf0.001"
        ).toPandas()
        planted = pdf[pdf.doc_id % 100 == 50]
        assert len(planted) == 5
        assert planted.is_canonical.sum() == 1  # lowest doc_id only
        assert pdf[pdf.doc_id % 100 != 50].is_canonical.all()

    def test_no_text_in_any_exchange(self, spark):
        import re

        from pdf_extractor_spark.functions.recipe import (
            pretraining_filter,
        )
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        plan = (
            pretraining_filter(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for m in re.findall(r"Exchange [^\n]*", plan):
            assert "text" not in m, m


class TestDomainMix:
    def test_binding_group_and_quotas(self, spark):
        from pdf_extractor_spark.functions.sampling import (
            domain_mix_report,
        )

        # en: 100 tokens, de: 100 tokens; targets 75/25 → en binds:
        # budget = min(100*10000 div 7500, 100*10000 div 2500)
        #        = min(133, 400) = 133 tokens
        # quota_en = 133*7500 div 10000 = 99,  rate = 99*10000/100 = 9900
        # quota_de = 133*2500 div 10000 = 33,  rate 3300
        rows = [
            (i, "w " * 9 + "w", "en") for i in range(10)
        ] + [
            (100 + i, "w " * 9 + "w", "de") for i in range(10)
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )
        got = {
            r.lang: (r.n_tokens, r.quota_tokens, r.rate_bp)
            for r in domain_mix_report(
                docs, {"en": 7500, "de": 2500}
            ).collect()
        }
        assert got["en"] == (100, 99, 9900)
        assert got["de"] == (100, 33, 3300)

    def test_untargeted_group_dropped(self, spark):
        from pdf_extractor_spark.functions.sampling import (
            domain_mix_report,
        )

        docs = spark.createDataFrame(
            [(1, "a b c", "en"), (2, "a b c", "xx")],
            "doc_id long, text string, lang string",
        )
        got = {
            r.lang: (r.target_bp, r.rate_bp, r.n_kept)
            for r in domain_mix_report(docs, {"en": 10000}).collect()
        }
        assert got["xx"] == (0, 0, 0)
        assert got["en"][1] == 10000

    def test_absent_target_language_binds_budget_to_zero(self, spark):
        """A targeted language with ZERO corpus documents is the
        scarcest group: the servable budget is 0 and the missing
        group still appears in the report (the silent-violation
        case — a 50/50 en/zh mix over an en-only corpus must not
        serve 100% en while claiming to honor the shares)."""
        from pdf_extractor_spark.functions.sampling import (
            domain_mix_report,
        )

        docs = spark.createDataFrame(
            [(i, "w " * 9 + "w", "en") for i in range(10)],
            "doc_id long, text string, lang string",
        )
        got = {
            r.lang: (r.n_docs, r.n_tokens, r.quota_tokens, r.rate_bp,
                     r.n_kept)
            for r in domain_mix_report(
                docs, {"en": 5000, "zh": 5000}
            ).collect()
        }
        assert set(got) == {"en", "zh"}
        assert got["zh"] == (0, 0, 0, 0, 0)
        # en's quota collapses with the zero budget: nothing servable
        assert got["en"][2] == 0 and got["en"][3] == 0

    def test_draw_is_deterministic_and_subset_of_rate(self, spark):
        from pdf_extractor_spark.functions.sampling import (
            domain_mix_report,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        a = [tuple(r) for r in domain_mix_report(docs).collect()]
        b = [tuple(r) for r in domain_mix_report(docs).collect()]
        assert a == b
        for r in a:
            # realized draw can never exceed the group population
            assert r[6] <= r[1] and r[7] <= r[2]


class TestParagraphDedup:
    def test_first_occurrence_semantics(self, spark):
        """Within one document only the first occurrence of each
        distinct paragraph survives; order is otherwise preserved,
        and distinct documents never interfere."""
        import pandas as pd
        from pdf_extractor_spark.functions.dedup import (
            PARA_WIDTH, paragraph_dedup_report,
        )

        w = PARA_WIDTH
        a, b, c, d = ("alpha " * 12)[:w], ("beta " * 14)[:w], \
            ("gamma " * 12)[:w], ("delta " * 12)[:w]
        # doc 1: %4!=0, %6!=0 → paras [a,b,c,d], all distinct → 4 kept
        # doc 4: %4==0 → third para repeats the first → 3 kept
        # doc 6: %6==0 → fourth para repeats the second → 3 kept
        # doc 12: both → 2 kept
        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 4, 6, 12],
            "text": [a + b + c + d] * 4,
        }))
        out = {
            r["doc_id"]: r
            for r in paragraph_dedup_report(docs).collect()
        }
        assert out[1]["n_paras_kept"] == 4
        assert out[4]["n_paras_kept"] == 3
        assert out[6]["n_paras_kept"] == 3
        assert out[12]["n_paras_kept"] == 2
        assert out[12]["kept_text"] == a + "\n\n" + b
        # order preserved where no dedup applies
        assert out[1]["kept_text"] == "\n\n".join([a, b, c, d])
        # the repeat keeps its FIRST position, not the later one
        assert out[4]["kept_text"] == "\n\n".join([a, b, d])

    def test_short_docs_drop_empty_slices(self, spark):
        import pandas as pd
        from pdf_extractor_spark.functions.dedup import (
            paragraph_dedup_report,
        )

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [2], "text": ["tiny"],
        }))
        row = paragraph_dedup_report(docs).collect()[0]
        assert row["n_paras_in"] == 1 and row["n_paras_kept"] == 1
        assert row["kept_text"] == "tiny"

    def test_oracle_twin_bit_equal(self, spark):
        import duckdb
        from pdf_extractor_spark.functions.dedup import (
            duck_paragraph_dedup_sql, paragraph_dedup_report,
        )

        sf = "/root/testdata/sf0.001"
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        sdf = (
            paragraph_dedup_report(docs)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')"
        )
        odf = (
            con.execute(duck_paragraph_dedup_sql())
            .fetchdf().sort_values("doc_id").reset_index(drop=True)
        )
        assert sdf.equals(odf)
        # non-vacuous: the injected repeats actually dedup
        assert (sdf.n_paras_in != sdf.n_paras_kept).sum() > 0


class TestSplitHoldout:
    def test_domain_never_straddles_splits(self, spark):
        from pdf_extractor_spark.functions.sampling import (
            holdout_split_report,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        pdf = holdout_split_report(docs).toPandas()
        assert (pdf.groupby("registered_domain").split.nunique() == 1).all()
        assert set(pdf.split.unique()) <= {"train", "valid", "test"}
        # non-vacuous: more than one split realized on the corpus
        assert pdf.split.nunique() >= 2

    def test_registered_domain_psl_subset(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pdf_extractor_spark.functions.sampling import (
            registered_domain,
        )

        hosts = pd.DataFrame({"h": [
            "a.b.example.com",      # private registry: b.example.com
            "www.news.co.uk",       # multi-label public suffix
            "deep.sub.github.io",   # private registry
            "plain.org",            # generic fallback: last two labels
            "x.y.plain.org",
        ]})
        df = spark.createDataFrame(hosts).select(
            registered_domain(F.col("h")).alias("d")
        )
        assert [r["d"] for r in df.collect()] == [
            "b.example.com", "news.co.uk", "sub.github.io",
            "plain.org", "plain.org",
        ]

    def test_assignment_stable_under_growth(self, spark):
        """Adding documents must not move an existing domain between
        splits (the md5-of-domain property a row-count modulo lacks)."""
        from pdf_extractor_spark.functions.sampling import (
            holdout_split_report,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        full = holdout_split_report(docs).toPandas()
        half = holdout_split_report(
            docs.filter("doc_id % 2 = 0")
        ).toPandas()
        merged = half.merge(
            full, on="doc_id", suffixes=("_half", "_full")
        )
        assert (merged.split_half == merged.split_full).all()


class TestReadability:
    def test_known_text_exact_values(self, spark):
        import pandas as pd
        from pdf_extractor_spark.functions.textstats import (
            readability_scores,
        )

        # "the cat sat. it ran fast!" → W=6 words, S=2 sentences,
        # syllable groups: e,a,a,i,a,a → 6
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1],
                          "text": ["the cat sat. it ran fast!"]})
        )
        row = readability_scores(docs).first()
        assert row.n_words == 6 and row.n_sentences == 2
        assert row.n_syllables == 6
        # fre = 206835 - (1015*6)//2 - (84600*6)//6 = 119205
        assert row.fre_milli == 206835 - 3045 - 84600
        # fkg = (390*6)//2 + (11800*6)//6 - 15590 = -3420
        assert row.fkg_milli == 1170 + 11800 - 15590
        assert row.band == "very_easy"

    def test_degenerate_doc_floors_at_one(self, spark):
        import pandas as pd
        from pdf_extractor_spark.functions.textstats import (
            readability_scores,
        )

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2], "text": ["", "zzz"]})
        )
        rows = {r.doc_id: r for r in readability_scores(docs).collect()}
        # no sentences, no vowels: every denominator floors at 1
        assert rows[2].n_sentences == 1 and rows[2].n_syllables == 1
        assert rows[1].n_words == 1  # split("") -> one empty token


class TestShardManifest:
    def test_greedy_layout_invariants(self, spark):
        from pdf_extractor_spark.functions.sharding import (
            SHARD_TOKENS,
            shard_manifest,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        pdf = shard_manifest(docs).toPandas()
        # shard ids contiguous from 0; multiple shards realized
        assert list(pdf.shard_id) == list(range(len(pdf)))
        assert len(pdf) >= 2
        # doc-id ranges are disjoint and ordered (stable order key)
        assert (pdf.doc_lo.shift(-1)[:-1] > pdf.doc_hi[:-1]).all()
        # every shard except the last crosses its budget boundary
        cum = pdf.n_tokens.cumsum()
        assert (
            cum[:-1] >= (pdf.shard_id[:-1] + 1) * SHARD_TOKENS
        ).all()
        # conservation: every document's tokens land in some shard
        assert int(pdf.n_docs.sum()) == docs.count()

    def test_two_level_sum_matches_single_window(self, spark):
        """The distributed form must telescope to the naive prefix
        sum — pin it with a tiny bucket span that forces many
        buckets."""
        from pdf_extractor_spark.functions.sharding import (
            shard_manifest,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        a = shard_manifest(docs, bucket_span=7).toPandas()
        b = shard_manifest(docs, bucket_span=10_000_000).toPandas()
        assert a.equals(b)


class TestNfcAudit:
    def test_nfc_semantics_pinned(self, spark):
        """NFC composes canonical sequences but must NOT fold
        compatibility characters (that's NFKC) — the classic
        normalization bug this audit exists to catch."""
        import pandas as pd
        from pdf_extractor_spark.functions.normalize import nfc_audit

        docs = spark.createDataFrame(pd.DataFrame({
            # doc 1 gets the denormalization (1 % 3 == 1): its 'e's
            # decompose then compose back — n_after < n_before
            "doc_id": [1, 3, 6],
            "text": ["tree level", "café", "ﬁne print"],
        }))
        rows = {r.doc_id: r for r in nfc_audit(docs).collect()}
        assert rows[1].n_before > rows[1].n_after
        assert not rows[1].is_nfc
        # already-composed text passes through
        assert rows[3].is_nfc and rows[3].n_before == rows[3].n_after
        # the fi LIGATURE is compatibility, not canonical: NFC keeps
        # it — is_nfc stays true and nothing shrinks
        assert rows[6].is_nfc and rows[6].n_before == rows[6].n_after


class TestWidthFold:
    def test_fold_recovers_original_and_counts(self, spark):
        import pandas as pd
        from pdf_extractor_spark.functions.normalize import width_fold

        docs = spark.createDataFrame(pd.DataFrame({
            # doc 2 gets widened (2 % 4 == 2)
            "doc_id": [2, 3],
            "text": ["Hello, W0rld! (50% off)", "already narrow"],
        }))
        rows = {r.doc_id: r for r in width_fold(docs).collect()}
        # widen→fold is the identity on the original text
        assert rows[2].folded == "Hello, W0rld! (50% off)"
        # every non-space char plus the spaces were full-width
        assert rows[2].n_fullwidth == len("Hello, W0rld! (50% off)")
        assert rows[3].n_fullwidth == 0
        assert rows[3].folded == "already narrow"

    def test_surgical_not_nfkc(self, spark):
        """Width folding must not touch what full NFKC would fold —
        ligatures and superscripts survive."""
        import pandas as pd
        from pdf_extractor_spark.functions.normalize import width_fold

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1], "text": ["ﬁne x² ７７"],
        }))
        r = width_fold(docs).first()
        # the pre-existing full-width digits fold even on an
        # un-widened doc; ligature and superscript stay
        assert r.folded == "ﬁne x² 77"
