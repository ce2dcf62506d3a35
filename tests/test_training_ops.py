"""Tests for the training-data operators added in round 1: SimHash,
n-gram Jaccard, SRP-bucketed ANN, embedding near-dup, and the
multimodal binary-column plumbing."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.functions.dedup import (
    ngram_jaccard_pairs,
    simhash_pandas,
    simhash_signatures,
)
from pdf_extractor_spark.functions.multimodal import (
    attach_binary_payload,
    decode_image_meta,
    frame_sample_plan,
    resize_plan,
)
from pdf_extractor_spark.functions.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_probe_topk,
    srp_bucketed_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


class TestSimhash:
    def test_sql_matches_numpy(self, docs):
        rows = simhash_signatures(docs.limit(20)).collect()
        texts = [
            r["text"]
            for r in docs.limit(20).select("doc_id", "text").collect()
        ]
        expected = simhash_pandas(texts)
        got = [r["simhash"] for r in rows]
        assert got == expected

    def test_sql_and_arrow_paths_identical(self, docs):
        from pdf_extractor_spark.functions.dedup import simhash_mapinpandas

        sql_path = {
            r["doc_id"]: r["simhash"]
            for r in simhash_signatures(docs.limit(30)).collect()
        }
        arrow_path = {
            r["doc_id"]: r["simhash"]
            for r in simhash_mapinpandas(docs.limit(30)).collect()
        }
        assert sql_path == arrow_path

    def test_near_dup_texts_small_hamming(self):
        a = "the quick brown fox jumps over the lazy dog " * 10
        b = a.replace("lazy", "idle", 1)  # one token differs
        c = "completely different vocabulary about spark shuffles " * 10
        ha, hb, hc = simhash_pandas([a.strip(), b.strip(), c.strip()])
        assert bin(ha ^ hb).count("1") < bin(ha ^ hc).count("1")


class TestJaccard:
    def test_identical_docs_jaccard_one(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f g"), (2, "a b c d e f g")],
            "doc_id long, text string",
        )
        out = ngram_jaccard_pairs(df, threshold=0.5).collect()
        assert len(out) == 1
        assert out[0]["jaccard"] == 1.0

    def test_disjoint_docs_no_pairs(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "u v w x y z")],
            "doc_id long, text string",
        )
        assert ngram_jaccard_pairs(df, threshold=0.1).count() == 0


class TestLshBanding:
    """Production r×b banding (round-1 verdict item #1): b=16 bands ×
    r=8 rows from k=128 minhashes — near-dup recall with a
    sub-quadratic candidate set."""

    def test_signature_shape_and_null_guard(self, spark):
        from pdf_extractor_spark.functions.dedup import (
            N_BANDS,
            minhash_signatures,
        )

        df = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "too short")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in minhash_signatures(df).collect()}
        assert len(rows[1].asDict()) == 1 + N_BANDS
        assert all(rows[1][f"band{b}"] is not None for b in range(N_BANDS))
        # < 3 tokens → no shingles → NULL band keys, never joins
        assert all(rows[2][f"band{b}"] is None for b in range(N_BANDS))

    def test_sql_and_arrow_signatures_identical(self, docs):
        from pdf_extractor_spark.functions.dedup import (
            minhash_mapinpandas,
            minhash_signatures,
        )

        sample = docs.limit(30)
        sql_rows = {
            r["doc_id"]: tuple(r)[1:]
            for r in minhash_signatures(sample).collect()
        }
        arrow_rows = {
            r["doc_id"]: tuple(r)[1:]
            for r in minhash_mapinpandas(sample).collect()
        }
        assert sql_rows == arrow_rows

    def test_planted_near_dups_recall_and_subquadratic(self, docs):
        from pdf_extractor_spark.functions.dedup import lsh_precision_stats

        row = lsh_precision_stats(docs).collect()[0]
        n = row["n_docs"]
        # sub-quadratic: candidate set far below n(n-1)/2
        assert row["candidate_frac"] < 0.01, row
        # recall: most planted near-dups recovered (short docs whose
        # 1-token mutation drops true Jaccard below the ~0.7 banding
        # threshold are legitimately missed)
        assert row["n_planted_found"] >= 0.7 * (n / 2), row

    def test_single_shared_shingle_not_a_candidate(self, spark):
        from pdf_extractor_spark.functions.dedup import lsh_candidate_pairs

        # round-1 failure mode: docs sharing ONE rare shingle became
        # candidates under 1-row bands; with r=8 rows a full band of
        # minimums must agree
        df = spark.createDataFrame(
            [
                (1, "shared tri gram " + "alpha beta gamma delta " * 5),
                (2, "shared tri gram " + "omega sigma theta lambda " * 5),
            ],
            "doc_id long, text string",
        )
        assert lsh_candidate_pairs(df).count() == 0

    def test_exact_duplicates_are_candidates(self, spark):
        from pdf_extractor_spark.functions.dedup import lsh_candidate_pairs

        df = spark.createDataFrame(
            [(1, "x y z w v u t s r q"), (2, "x y z w v u t s r q")],
            "doc_id long, text string",
        )
        assert lsh_candidate_pairs(df).count() == 1


class TestSimhashNearDup:
    def test_banded_join_lossless_for_radius(self, docs):
        """4×15-bit banding must find EVERY pair within Hamming ≤ 3
        (pigeonhole) — brute-force verified on a planted sample."""
        from pdf_extractor_spark.functions.dedup import (
            planted_near_dups,
            simhash_near_dup_pairs,
            simhash_pandas,
        )

        sample = planted_near_dups(docs.limit(60))
        got = {
            (r["doc_a"], r["doc_b"])
            for r in simhash_near_dup_pairs(sample, max_hamming=3)
            .collect()
        }
        rows = sample.collect()
        sigs = dict(
            zip(
                [r["doc_id"] for r in rows],
                simhash_pandas([r["text"] for r in rows]),
            )
        )
        ids = sorted(sigs)
        want = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(sigs[a] ^ sigs[b]).count("1") <= 3
        }
        assert got == want and len(want) > 0

    def test_identical_docs_hamming_zero(self, spark):
        from pdf_extractor_spark.functions.dedup import (
            simhash_near_dup_pairs,
        )

        df = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e f g h"),
             (3, "totally different words in this one here now")],
            "doc_id long, text string",
        )
        out = simhash_near_dup_pairs(df, max_hamming=3).collect()
        assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in out] == [
            (1, 2, 0)
        ]


class TestAnn:
    def test_bucketed_subset_of_exact_domain(self, emb):
        qvec = [
            float(v)
            for v in emb.where("vec_id = 0").select("embedding").first()[0]
        ]
        exact = {r["vec_id"] for r in cosine_topk(emb, qvec, k=50).collect()}
        approx = srp_bucketed_topk(emb, qvec, k=10).collect()
        assert 0 < len(approx) <= 10
        # the query's own bucket contains the query itself — its top hit
        # must also appear among the exact top-50
        assert approx[0]["vec_id"] in exact

    def test_ivf_probe_recall_and_determinism(self, emb):
        qvec = [
            float(v)
            for v in emb.where("vec_id = 0").select("embedding").first()[0]
        ]
        ivf1 = ivf_probe_topk(
            emb, qvec, k=10, n_cells=8, n_probe=2, exclude_id=0
        ).collect()
        ivf2 = ivf_probe_topk(
            emb, qvec, k=10, n_cells=8, n_probe=2, exclude_id=0
        ).collect()
        assert ivf1 == ivf2                     # deterministic codebook
        assert 0 < len(ivf1) <= 10
        # full probe (every cell) must equal exact brute force
        full = ivf_probe_topk(
            emb, qvec, k=10, n_cells=8, n_probe=8, exclude_id=0
        ).collect()
        exact = cosine_topk(emb, qvec, k=10, exclude_id=0).collect()
        assert full == exact

    def test_ivf_probe_noncontiguous_vec_ids(self, spark, emb):
        """The codebook is built from the vec_id RANKING (strided
        sample), so shifted/gapped ids give the identical codebook and
        ranking — round 1's ``vec_id < n_cells`` first-N broke here."""
        qvec = [
            float(v)
            for v in emb.where("vec_id = 0").select("embedding").first()[0]
        ]
        base = ivf_probe_topk(
            emb, qvec, k=10, n_cells=8, n_probe=2, exclude_id=0
        ).collect()
        shifted = emb.withColumn("vec_id", F.col("vec_id") * 3 + 100)
        got = ivf_probe_topk(
            shifted, qvec, k=10, n_cells=8, n_probe=2, exclude_id=100,
        ).collect()
        assert [r["cosine"] for r in got] == [r["cosine"] for r in base]
        assert [r["vec_id"] for r in got] == [
            r["vec_id"] * 3 + 100 for r in base
        ]

    def test_ivf_index_reuse_matches_oneshot(self, emb):
        """A prebuilt index must serve multiple queries identically to
        the one-shot path (the amortized deployment shape)."""
        from pdf_extractor_spark.functions.similarity import (
            ivf_index,
            ivf_search,
        )

        assigned, codebook = ivf_index(emb, n_cells=8)
        assigned = assigned.cache()
        for qid in (0, 7):
            qvec = [
                float(v)
                for v in emb.where(f"vec_id = {qid}")
                .select("embedding").first()[0]
            ]
            served = ivf_search(
                assigned, codebook, qvec, k=10, n_probe=2,
                exclude_id=qid,
            ).collect()
            oneshot = ivf_probe_topk(
                emb, qvec, k=10, n_cells=8, n_probe=2, exclude_id=qid
            ).collect()
            assert served == oneshot, qid

    def test_near_dup_pairs_sorted_and_bounded(self, emb):
        out = embedding_near_dup_pairs(
            emb, threshold=0.0, n_bits=4, k=15
        ).collect()
        assert len(out) == 15
        cosines = [r["cosine"] for r in out]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["vec_a"] < r["vec_b"] for r in out)


class TestAnnRecall:
    """Round-1 verdict item #2 'done' gate: recall@10 ≥ 0.9 against
    exact cosine on CLUSTERED fixture embeddings — the regime ANN is
    for (the testdata embeddings are near-isotropic, where any
    sublinear method must lose recall; the ann_recall_at_10 catalog
    query reports that honestly)."""

    @pytest.fixture(scope="class")
    def clustered(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        centers = rng.normal(size=(10, 64))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = []
        for i in range(500):
            c = centers[i % 10]
            v = c + 0.04 * rng.normal(size=64)  # within-cluster cos ≈ 0.92+
            v /= np.linalg.norm(v)
            rows.append((i, [float(x) for x in v]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    def test_srp_and_ivf_recall(self, clustered):
        from pdf_extractor_spark.functions.similarity import (
            ann_recall_stats,
        )

        qvec = [
            float(v)
            for v in clustered.where("vec_id = 0")
            .select("embedding").first()[0]
        ]
        row = ann_recall_stats(
            clustered, qvec, k=10, n_bits=6, n_flip=3, n_cells=10,
            n_probe=2, exclude_id=0,
        ).collect()[0]
        assert row["srp_recall"] >= 0.9, row
        assert row["ivf_recall"] >= 0.9, row

    def test_srp_recall_on_isotropic_testdata(self, spark):
        """Round-2 verdict item #2 'done' gate: the multi-table probe
        budget (2 tables × 6 bits × 3 flips) must recall ≥ 0.5 of the
        exact top-10 even on the near-isotropic sf0.1 testdata — the
        ANN-hostile regime where the round-2 single-table config
        scored 0.0."""
        from pdf_extractor_spark.functions.similarity import (
            ann_recall_stats,
        )

        emb01 = spark.read.parquet(
            "/root/testdata/sf0.1/embeddings.parquet"
        )
        qvec = [
            float(v)
            for v in emb01.where("vec_id = 0")
            .select("embedding").first()[0]
        ]
        row = ann_recall_stats(
            emb01, qvec, k=10, n_bits=6, n_flip=3, n_cells=8,
            n_probe=2, n_tables=2, exclude_id=0,
        ).collect()[0]
        assert row["srp_recall"] >= 0.5, row
        assert row["ivf_recall"] >= 0.9, row

    def test_srp_probe_actually_prunes(self, clustered):
        from pdf_extractor_spark.functions.similarity import (
            srp_bucket_col,
            srp_probe_buckets,
        )

        qvec = [
            float(v)
            for v in clustered.where("vec_id = 0")
            .select("embedding").first()[0]
        ]
        probes = srp_probe_buckets(qvec, 6, 0, 3)
        scanned = (
            clustered.withColumn(
                "xq",
                F.expr(
                    "transform(embedding, x -> cast(floor("
                    "cast(x as double) * 1048576) as bigint))"
                ),
            )
            .withColumn("b", srp_bucket_col(6, 64, 0))
            .where(F.col("b").isin(probes))
            .count()
        )
        # recall ≥ 0.9 while scanning well under half the corpus
        assert scanned < 250, scanned


class TestMultimodal:
    def test_payload_is_real_png(self, docs):
        from pdf_extractor_spark.operators.png_codec import (
            SIGNATURE, png_decode,
        )
        rows = attach_binary_payload(docs.limit(5)).collect()
        for r in rows:
            assert bytes(r["payload"][:8]) == SIGNATURE
            px = png_decode(bytes(r["payload"]))
            assert px.ndim == 3

    def test_decode_matches_generation_params(self, docs):
        # closed-form oracle: the decode measures, the params predict
        rows = decode_image_meta(docs.limit(20)).orderBy("doc_id").collect()
        assert len(rows) == 20
        for r in rows:
            d = r["doc_id"]
            w = 16 + (d * 7) % 48
            h = 16 + (d * 13) % 48
            c = (1, 3, 4)[d % 3]
            k = d % 32
            assert (r["width"], r["height"], r["channels"]) == (w, h, c)
            assert r["n_pixels"] == w * h
            expected = (
                h * c * (w * (w - 1)) // 2
                + w * c * (h * (h - 1))
                + 3 * w * h * (c * (c - 1)) // 2
                + w * h * c * k
            )
            assert r["pixel_sum"] == expected, d

    def test_decode_error_report_isolates_bad_payloads(self, docs, spark):
        from pdf_extractor_spark.functions.multimodal import (
            decode_error_report, fixture_image,
        )
        rows = [
            (1, fixture_image(1)),
            (2, b"\x89PNG\r\n\x1a\n" + b"garbage after signature"),
            (3, b"not an image at all"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = {
            r["doc_id"]: r for r in decode_error_report(df, 2).collect()
        }
        assert got[1]["ok"] is True and got[1]["error"] is None
        assert got[2]["ok"] is False and got[2]["error"]
        assert got[3]["ok"] is False and "signature" in got[3]["error"]

    def test_resize_preserves_aspect_bound(self, docs):
        out = resize_plan(decode_image_meta(docs.limit(20))).collect()
        for r in out:
            assert max(r["new_width"], r["new_height"]) == 64
            assert r["new_width"] <= 64 and r["new_height"] <= 64

    def test_frame_sample_plan(self, docs):
        out = frame_sample_plan(decode_image_meta(docs.limit(10))).collect()
        for r in out:
            frames = r["sampled_frames"]
            assert frames[0] == 0
            assert all(
                b - a == 10 for a, b in zip(frames, frames[1:])
            )


class TestCharclassLangid:
    def test_scripts_detected(self, spark):
        from pdf_extractor_spark.functions.textstats import charclass_langid

        df = spark.createDataFrame(
            [
                (1, "これは日本語の文章です、間違いなく。"),
                (2, "The quick brown fox jumps over the lazy dog"),
                (3, "12345 67890 !!! ???"),
                (4, ""),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["script_pred"]
            for r in charclass_langid(df).collect()
        }
        assert got == {1: "cjk", 2: "latin", 3: "other", 4: "other"}


class TestIvfFastPathTwins:
    """The NumPy fast path (driver codebook + Arrow assignment) must be
    bit-identical to the relational oracle-shaped forms."""

    def test_codebook_rows_match_relational_form(self, emb):
        from pdf_extractor_spark.functions.similarity import (
            ivf_codebook,
            ivf_codebook_rows,
        )

        cents, n_sql = ivf_codebook(emb, 8)
        sql_rows = sorted(
            (r["cell_id"], [int(v) for v in r["cxq"]])
            for r in cents.collect()
        )
        np_rows, n_np = ivf_codebook_rows(emb, 8)
        assert n_sql == n_np
        assert np_rows == sql_rows

    def test_assignment_matches_relational_form(self, emb):
        from pyspark.sql import functions as F

        from pdf_extractor_spark.functions.similarity import (
            _XQ,
            _assign_cells,
            assign_cells_mapinpandas,
            ivf_codebook_rows,
        )

        crows, _ = ivf_codebook_rows(emb, 8)
        cents_df = emb.sparkSession.createDataFrame(
            crows, "cell_id int, cxq array<bigint>"
        )
        vecs = emb.select("vec_id", "embedding", F.expr(_XQ).alias("xq"))
        a_sql = {
            r["vec_id"]: r["cell_id"]
            for r in _assign_cells(vecs, cents_df).collect()
        }
        a_np = {
            r["vec_id"]: r["cell_id"]
            for r in assign_cells_mapinpandas(
                emb.select("vec_id", "embedding"), crows
            ).collect()
        }
        assert a_np == a_sql

    def test_sample_cap_truncates_deterministically(self, emb):
        from pdf_extractor_spark.functions.similarity import (
            ivf_codebook_rows,
        )

        # cap smaller than the corpus: trains on the first cap vectors
        # by id order, still deterministic and full-coverage cells
        rows_a, n_a = ivf_codebook_rows(emb, 8, sample_cap=64)
        rows_b, n_b = ivf_codebook_rows(emb, 8, sample_cap=64)
        assert rows_a == rows_b
        assert n_a == n_b == 65  # cap+1 probe saw the truncation
        assert 0 < len(rows_a) <= 8


class TestUnigramCost:
    def test_hand_computed_costs(self, spark):
        import pandas as pd

        from pdf_extractor_spark.functions.textstats import (
            UNIGRAM_OOV_COST,
            UNIGRAM_VOCAB,
            unigram_costs,
        )

        vocab = dict(UNIGRAM_VOCAB)
        texts = {
            0: "the fast table scan",          # all in-vocab -> keep
            1: "zzz qqq xxx www",              # all OOV -> drop
            2: "the zzz",                      # mixed
        }
        df = spark.createDataFrame(
            pd.DataFrame(
                [{"doc_id": k, "text": v} for k, v in texts.items()]
            )
        )
        got = {r["doc_id"]: r for r in unigram_costs(df).collect()}
        for did, text in texts.items():
            toks = text.split(" ")
            want_total = sum(
                vocab.get(t, UNIGRAM_OOV_COST) for t in toks
            )
            assert got[did]["n_tokens"] == len(toks)
            assert got[did]["total_cost_e2"] == want_total
            assert got[did]["avg_cost_e2"] == want_total // len(toks)
        assert got[0]["keep"] is True
        assert got[1]["keep"] is False
        assert got[2]["keep"] is False  # (100+800)//2 = 450 >= 400


class TestSrpRecallGate:
    def test_retuned_budget_recall_and_scan_at_sf01(self, spark):
        """Round-3 verdict item #6 gate: the default SRP budget must
        recall >= 0.8 of the exact top-10 at sf0.1 while scanning
        <= 0.35 of the corpus (measured, not assumed)."""
        from pyspark.sql import functions as F

        from pdf_extractor_spark.functions.query_catalog import (
            _query_vector,
        )
        from pdf_extractor_spark.functions.similarity import (
            _XQ,
            cosine_topk,
            srp_bucket_col,
            srp_bucketed_topk,
            srp_probe_buckets,
        )

        sf = "/root/testdata/sf0.1"
        emb = spark.read.parquet(f"{sf}/embeddings.parquet").cache()
        q = _query_vector(spark, sf)
        exact = {r["vec_id"] for r in cosine_topk(emb, q, 10).collect()}
        got = {
            r["vec_id"]
            for r in srp_bucketed_topk(emb, q, 10).collect()
        }
        assert len(exact & got) / 10 >= 0.8
        n_bits, n_flip, n_tables = 8, 4, 4  # the frozen defaults
        cond = F.lit(False)
        for t in range(n_tables):
            probes = srp_probe_buckets(q, n_bits, t, n_flip)
            cond = cond | srp_bucket_col(n_bits, len(q), t).isin(probes)
        scanned = emb.withColumn("xq", F.expr(_XQ)).where(cond).count()
        assert scanned / emb.count() <= 0.35
        emb.unpersist()


class TestImageFeatures:
    def test_features_match_closed_form_oracle(self, spark, docs):
        import duckdb

        from pdf_extractor_spark.functions.query_catalog import CATALOG

        qd = CATALOG["multimodal_features"]
        sdf = (
            qd.spark(spark, SF)
            .toPandas()
            .sort_values(["doc_id", "channel"])
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        odf = (
            con.execute(qd.oracle)
            .df()
            .sort_values(["doc_id", "channel"])
            .reset_index(drop=True)
        )
        odf = odf[sdf.columns].astype(sdf.dtypes.to_dict())
        assert sdf.equals(odf)
        # one row per channel: 1/3/4-channel cycle over doc_id % 3
        per_doc = sdf.groupby("doc_id").size()
        assert set(per_doc.unique()) == {1, 3, 4}

    def test_payload_never_crosses_exchange(self, spark, docs):
        import re

        from pdf_extractor_spark.functions.multimodal import (
            image_features,
        )
        plan = (
            image_features(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "payload" not in " ".join(
            re.findall(r"Exchange [^\n]*", plan)
        )


class TestAudioDecode:
    def test_wav_roundtrip_and_unknown_chunk_skip(self):
        import numpy as np

        from pdf_extractor_spark.operators.wav_codec import (
            WavError,
            wav_decode,
            wav_encode,
        )
        s = np.arange(20, dtype=np.int16).reshape(10, 2) - 7
        payload = wav_encode(s, sample_rate=44100)
        got, rate = wav_decode(payload)
        assert rate == 44100 and (got == s).all()
        # a LIST chunk (odd size, pad byte) between fmt and data is
        # skipped per the RIFF spec
        import struct
        fmt_end = 12 + 8 + 16
        info = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
        patched = payload[:fmt_end] + info + payload[fmt_end:]
        patched = patched[:4] + struct.pack(
            "<I", len(patched) - 8
        ) + patched[8:]
        got2, _ = wav_decode(patched)
        assert (got2 == s).all()
        # truncated data chunk: loud, typed error
        import pytest
        with pytest.raises(WavError, match="truncated"):
            wav_decode(payload[:-3])

    def test_decode_matches_closed_form_oracle(self, spark, docs):
        import duckdb

        from pdf_extractor_spark.functions.query_catalog import CATALOG

        qd = CATALOG["multimodal_audio_decode"]
        sdf = (
            qd.spark(spark, SF)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        odf = (
            con.execute(qd.oracle)
            .df()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        odf = odf[sdf.columns].astype(sdf.dtypes.to_dict())
        assert sdf.equals(odf)

    def test_wav_partial_trailing_chunk_header_is_loud(self):
        import struct

        import numpy as np
        import pytest

        from pdf_extractor_spark.operators.wav_codec import (
            WavError,
            wav_decode,
            wav_encode,
        )
        payload = wav_encode(
            np.zeros((8, 1), dtype=np.int16), sample_rate=8000
        )
        cut = payload + b"LIST"  # 4 bytes of a chunk header, no size
        patched = cut[:4] + struct.pack("<I", len(cut) - 8) + cut[8:]
        with pytest.raises(WavError, match="not a complete chunk"):
            wav_decode(patched)


class TestSemanticDedup:
    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from pdf_extractor_spark.functions.similarity import (
            duck_semantic_dedup_sql, semantic_dedup,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        got = semantic_dedup(emb).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
            "'/root/testdata/sf0.001/embeddings.parquet')"
        )
        want = con.sql(duck_semantic_dedup_sql(64)).df()
        cols = sorted(got.columns)
        gs = got[cols].sort_values("vec_id").reset_index(drop=True)
        ws = want[cols].sort_values("vec_id").reset_index(drop=True)
        assert len(gs) == len(ws) > 0
        assert (gs.to_numpy() == ws.to_numpy()).all()

    def test_non_vacuous_and_earliest_wins(self, spark):
        from pdf_extractor_spark.functions.similarity import (
            semantic_dedup,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        got = semantic_dedup(emb).toPandas()
        dropped = got[~got["kept"]]
        assert len(dropped) > 0  # the gate must actually fire
        # earliest id per cell is always kept (nothing precedes it)
        firsts = got.sort_values("vec_id").groupby("cell_id").first()
        assert firsts["kept"].all()

    def test_pair_stage_is_cell_bounded(self, spark):
        from pdf_extractor_spark.functions.query_catalog import CATALOG

        df = CATALOG["dedup_semantic"].spark(
            spark, "/root/testdata/sf0.001"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
