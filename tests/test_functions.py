"""Unit tests for the LLM-pipeline operators (functions/)."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from xcube_geodb_spark.functions import dedup, similarity, text
from xcube_geodb_spark.functions.multimodal import (
    attach_binary_payload,
    decode_features,
    resize_images,
    sample_frames,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (4, "completely different content about spark engines and data"),
        (5, "der hund ist nicht die katze und das ist gut"),
        (6, "le chat et le chien sont les animaux est bien"),
        (7, "xy"),  # shorter than one shingle
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDedup:
    def test_exact(self, docs):
        out = dedup.exact_duplicates(docs).collect()
        assert len(out) == 1
        assert out[0]["keeper_id"] == 1 and out[0]["n_docs"] == 2

    def test_minhash_finds_near_dups(self, docs):
        # bands=6 (r=2): the fixture's near-dup pair has J≈0.67, so band
        # collision is 1-(1-J^2)^6 ≈ 97% over hash families vs 75% at the
        # default bands=4 — keeps the assertion meaningful rather than a
        # bet on the current family's draw
        pairs = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_candidate_pairs(docs, bands=6).collect()
        }
        assert (1, 2) in pairs  # exact dups always collide
        assert (1, 3) in pairs or (2, 3) in pairs
        # unrelated docs must not collide
        assert not any(4 in p or 5 in p or 6 in p for p in pairs)

    def test_jaccard_exact_dup_is_1(self, docs):
        out = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()
        }
        assert out[(1, 2)] == 1.0
        if (1, 3) in out:
            assert 0.1 <= out[(1, 3)] < 1.0

    def test_simhash_exact_dups_bucket(self, docs):
        out = dedup.simhash_buckets(docs).collect()
        buckets = {r["keeper_id"]: r["n_docs"] for r in out}
        assert buckets.get(1) == 2

    def test_duplicate_clusters_chain(self, spark):
        # chain 1-2, 2-3 plus isolated pair 10-11: two components
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        out = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(pairs).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_dedup_pipeline_keeps_one_per_cluster(self, docs):
        kept = dedup.dedup_pipeline(docs, jaccard_threshold=0.6)
        ids = sorted(r["doc_id"] for r in kept.collect())
        assert 1 in ids and 2 not in ids  # exact dup removed, keeper stays
        assert {4, 5, 6, 7} <= set(ids)  # singletons untouched

    def test_shingles_short_doc_fallback(self, docs):
        st = dedup.shingle_table(docs)
        row = st.filter(F.col("doc_id") == 7).collect()[0]
        assert row["sh"] == ["xy"]


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [-1.0, 0.0, 0.0, 0.0]),
            (4, [0.7, 0.7, 0.0, 0.0]),
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_cosine_topk(self, emb):
        out = similarity.cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=3).collect()
        assert [r["vec_id"] for r in out] == [0, 1, 4]
        assert out[0]["cos_sim"] == 1.0
        assert abs(out[2]["cos_sim"] - 1 / math.sqrt(2)) < 1e-6

    def test_cosine_topk_truncated(self, emb):
        # full-width truncation == the full Arrow scorer, bit-identical
        q = [1.0, 0.0, 0.0, 0.0]
        full = similarity._cosine_topk_arrow(emb, q, k=5).collect()
        trunc = similarity.cosine_topk_truncated(emb, q, k=5, dims=4).collect()
        assert [(r["vec_id"], r["cos_sim"]) for r in full] == [
            (r["vec_id"], r["cos_sim"]) for r in trunc
        ]
        # a 2-dim prefix scores only the first two components: vec 4
        # (0.7, 0.7) keeps cos 1/sqrt(2), vec 1 renormalizes to its
        # prefix (0.9, 0.1)
        out = similarity.cosine_topk_truncated(
            emb, q, k=3, dims=2
        ).collect()
        assert [r["vec_id"] for r in out] == [0, 1, 4]
        assert abs(
            out[1]["cos_sim"] - 0.9 / math.hypot(0.9, 0.1)
        ) < 1e-6
        with pytest.raises(ValueError, match="dims"):
            similarity.cosine_topk_truncated(emb, q, dims=9)

    def test_cosine_paths_agree_on_degenerate_vectors(self, spark, emb):
        """r8 ADVICE: a zero-norm vector scores NaN; the JVM path ranked
        it FIRST (NaN > all under DESC) while the Arrow path pruned it
        last. Both now emit SQL NULL, ranking degenerates last."""
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero norm -> NaN cosine
            (3, [0.5, 0.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = [1.0, 0.0, 0.0, 0.0]
        jvm = similarity._cosine_topk_jvm(df, q, k=4).collect()
        arrow = similarity._cosine_topk_arrow(df, q, k=4).collect()
        assert [r["vec_id"] for r in jvm] == [0, 3, 1, 2]
        assert [(r["vec_id"], r["cos_sim"]) for r in jvm] == [
            (r["vec_id"], r["cos_sim"]) for r in arrow
        ]
        assert jvm[-1]["cos_sim"] is None

    def test_cosine_arrow_prunes_on_rounded_score(self, spark):
        """r8 ADVICE: with >k+margin rows in one batch tied on the
        ROUNDED score, raw-score pruning could locally drop a smaller id
        that wins globally. Scaled copies of one vector differ in raw
        cosine only by float noise (rounded: all 1.0) — the top-k must be
        the smallest ids exactly."""
        rows = [
            (i, [(1.0 + i * 1e-7) * c for c in (0.6, 0.8, 0.0, 0.0)])
            for i in range(50)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).coalesce(1)
        out = similarity._cosine_topk_arrow(
            df, [0.6, 0.8, 0.0, 0.0], k=5, local_margin=2
        ).collect()
        assert [r["vec_id"] for r in out] == [0, 1, 2, 3, 4]
        assert all(r["cos_sim"] == 1.0 for r in out)

    @pytest.mark.parametrize("case", ["basic", "degenerate", "rounding_tie"])
    def test_cosine_topk_picks_scorer_by_size(self, spark, emb, case,
                                              monkeypatch, tmp_path):
        """A frame the optimizer proves tiny scores on the JVM (no
        Python node in the executed plan); with the bound at 0 the same
        call takes the Arrow scorer (MapInPandas), with the same rows.
        The frames round-trip through parquet: an in-memory RDD frame
        has no size estimate, so it always takes the Arrow scorer."""
        if case == "basic":
            df, q, k = emb, [1.0, 0.0, 0.0, 0.0], 5
        elif case == "degenerate":
            df = spark.createDataFrame(
                [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])],
                "vec_id long, embedding array<float>",
            )
            q, k = [1.0, 0.0], 3
        else:
            df = spark.createDataFrame(
                [
                    (i, [(1.0 + i * 1e-7) * c for c in (0.6, 0.8)])
                    for i in range(50)
                ],
                "vec_id long, embedding array<float>",
            ).coalesce(1)
            q, k = [0.6, 0.8], 5
        df.write.parquet(str(tmp_path / "emb"))
        df = spark.read.parquet(str(tmp_path / "emb"))

        def run():
            out = similarity.cosine_topk(df, q, k=k)
            plan = out._jdf.queryExecution().executedPlan().toString()
            return plan, [(r["vec_id"], r["cos_sim"]) for r in out.collect()]

        jvm_plan, jvm = run()
        assert "Python" not in jvm_plan and "Pandas" not in jvm_plan
        monkeypatch.setattr(similarity, "_COSINE_JVM_MAX_BYTES", 0)
        arrow_plan, arrow = run()
        assert "MapInPandas" in arrow_plan
        assert jvm == arrow and len(jvm) == k
        if case == "degenerate":
            assert jvm[-1] == (1, None)
        if case == "rounding_tie":
            assert jvm == [(i, 1.0) for i in range(5)]

    def test_lsh_bucket_restricts(self, emb):
        out = similarity.lsh_multitable_topk(
            emb, [1.0, 0.0, 0.0, 0.0], k=5, n_bits=4, n_tables=1
        ).collect()
        ids = [r["vec_id"] for r in out]
        assert 3 not in ids  # opposite sign bucket pruned
        assert ids[0] == 0

    def test_pairwise_above(self, emb):
        out = similarity.pairwise_cosine_above(emb, 0.9, n_bits=4).collect()
        pairs = {(r["id_a"], r["id_b"]) for r in out}
        assert (0, 1) in pairs
        assert all(a < b for a, b in pairs)

    def test_ivf_search(self, spark):
        import numpy as np

        # 3 well-separated clusters of 10 vectors each
        rows = []
        basis = [(1.0, 0.0, 0.0, 0.0), (0.0, 1.0, 0.0, 0.0), (0.0, 0.0, 1.0, 0.0)]
        vid = 0
        for bx in basis:
            for j in range(10):
                v = [c + (0.01 * j if i == 3 else 0.0) for i, c in enumerate(bx)]
                rows.append((vid, v))
                vid += 1
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = similarity.ivf_centroids(emb, n_centroids=3, n_iters=4)
        assert cents.shape == (3, 4)
        out = similarity.ivf_topk_seeded(
            emb, [1.0, 0.0, 0.0, 0.0], cents.tolist(), k=5, n_probe=1
        ).collect()
        ids = [r["vec_id"] for r in out]
        assert len(ids) == 5
        assert all(i < 10 for i in ids), "probe must stay in the first cluster"
        # full-scan brute force agrees on the top hit
        brute = similarity.cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=1).collect()
        assert brute[0]["vec_id"] == ids[0]


class TestText:
    def test_quality_and_tokens(self, docs):
        out = text.with_quality_score(docs).filter(F.col("doc_id") == 1).collect()[0]
        assert out["n_tokens"] == 9
        assert out["stop_ratio"] == pytest.approx(2 / 9, abs=1e-6)
        assert 0.0 <= out["quality"] <= 1.0

    def test_lang_id(self, docs):
        preds = {
            r["doc_id"]: r["lang_pred"]
            for r in text.with_lang_id(docs).collect()
        }
        assert preds[1] == "en"
        assert preds[5] == "de"
        assert preds[6] == "fr"
        assert preds[7] == "und"

    def test_fingerprint_stable(self, docs):
        fps = {
            r["doc_id"]: r["fingerprint"] for r in text.with_fingerprint(docs).collect()
        }
        assert fps[1] == fps[2]
        assert fps[1] != fps[3]

    def test_token_stats(self, docs):
        out = text.with_token_stats(docs).filter(F.col("doc_id") == 1).collect()[0]
        assert out["n_tokens"] == 9
        assert out["n_subword_est"] == math.ceil(43 / 4)


class TestMultimodal:
    def test_payload_and_decode(self, docs):
        payloads = attach_binary_payload(docs, "text")
        feats = decode_features(payloads).filter(F.col("doc_id") == 1).collect()[0]
        assert feats["n_bytes"] == 43
        assert feats["feat0"] == float(ord("t"))
        assert feats["feat1"] == float(ord("h"))

    def test_resize_plumbing(self, docs):
        payloads = attach_binary_payload(docs, "text")
        out = {
            r.doc_id: r for r in resize_images(payloads, 64, 48).collect()
        }
        r = out[1]
        assert (r.width, r.height) == (64, 48)
        assert bytes(r.payload).startswith(b"RSZ")
        assert r.n_bytes == len(bytes(r.payload))

    def test_frame_sampling_fans_out(self, docs):
        payloads = attach_binary_payload(docs, "text")
        frames = sample_frames(payloads, every_n=2).collect()
        by_doc = {}
        for r in frames:
            by_doc.setdefault(r.doc_id, []).append(r)
        # 43-byte payload -> 3 fake frames of 16 bytes -> every 2nd = idx 0, 2
        assert [r.frame_idx for r in sorted(by_doc[1], key=lambda r: r.frame_idx)] == [0, 2]
        first = min(by_doc[1], key=lambda r: r.frame_idx)
        assert bytes(first.frame) == b"the quick brown "

    def test_custom_resizer_injectable(self, docs):
        payloads = attach_binary_payload(docs, "text")
        out = resize_images(
            payloads, 8, 8, resizer=lambda b, w, h: b[: w]
        ).collect()
        assert all(r.n_bytes <= 8 for r in out)

    def test_custom_decoder(self, docs):
        payloads = attach_binary_payload(docs, "text")
        out = decode_features(
            payloads, decoder=lambda b: [float(len(b))] * 4
        ).collect()
        assert all(r["feat0"] == r["n_bytes"] for r in out)


class TestRotationLSH:
    def test_rotation_buckets_resist_anisotropy(self, spark):
        # an anisotropic corpus (every component positive) would put
        # every row in one axis-aligned sign bucket; the seeded rotation
        # spreads them across many buckets
        import numpy as np

        from xcube_geodb_spark.functions import similarity as S

        rng = np.random.RandomState(7)
        vecs = [
            (i, [float(v) for v in rng.rand(16) + 0.05]) for i in range(200)
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        hp = S.lsh_hyperplanes(16, 8, 42)
        rot_counts = (
            df.select(S.rotation_bucket("embedding", hp).alias("b"))
            .groupBy("b")
            .count()
            .collect()
        )
        assert len(rot_counts) >= 8
        assert max(r["count"] for r in rot_counts) <= 100  # no giant bucket

    def test_rotation_bucket_matches_driver_side(self, spark):
        from xcube_geodb_spark.functions import similarity as S

        hp = S.lsh_hyperplanes(4, 8, 42)
        assert hp == S.lsh_hyperplanes(4, 8, 42)  # deterministic
        vec = [0.5, -1.25, 0.75, -0.125]
        df = spark.createDataFrame([(vec,)], "embedding array<double>")
        got = df.select(S.rotation_bucket("embedding", hp).alias("b")).first()["b"]
        assert got == S.bucket_of(vec, hp)


class TestScrubAndRepetition:
    def test_scrub_redacts_email_url_ip(self, spark):
        from xcube_geodb_spark.functions import text as T

        df = spark.createDataFrame(
            [
                (1, "mail me at jane.doe+x@corp.example.org today"),
                (2, "see https://example.com/a?b=1 and http://x.io"),
                (3, "host 192.168.1.254 is up, 999.1.2.3 is not an ip"),
                (4, "clean text stays clean"),
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r.text_scrubbed for r in T.with_scrubbed(df).collect()
        }
        assert got[1] == "mail me at <EMAIL> today"
        assert got[2] == "see <URL> and <URL>"
        assert "192.168.1.254" not in got[3] and "<IP>" in got[3]
        assert got[4] == "clean text stays clean"

    def test_repetition_ratio(self, spark):
        from xcube_geodb_spark.functions import text as T

        df = spark.createDataFrame(
            [
                (1, "spam spam spam spam"),      # 1 distinct / 4 -> 0.75
                (2, "all words are different"),  # 0.0
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r.rep_ratio for r in T.with_repetition(df).collect()}
        assert got[1] == 0.75
        assert got[2] == 0.0


class TestStDwithin:
    def test_dwithin_sql(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        rows = spark.sql(
            """
            SELECT
              st_dwithin(st_geomfromtext('POINT (0 0)'),
                         st_geomfromtext('POINT (3 4)'), 5.0) AS on_edge,
              st_dwithin(st_geomfromtext('POINT (0 0)'),
                         st_geomfromtext('POINT (3 4)'), 4.9) AS outside,
              st_dwithin(st_geomfromtext('POINT (1 1)'),
                         st_geomfromtext('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'),
                         0.0) AS contained
            """
        ).collect()[0]
        assert rows.on_edge is True
        assert rows.outside is False
        assert rows.contained is True


class TestQuantization:
    def test_int8_quantization_error_bound_and_dot(self, spark):
        import math

        from xcube_geodb_spark.functions.similarity import (
            dequantize_embedding,
            with_quantized_embedding,
        )
        from xcube_geodb_spark.suite.util import load

        emb = load(spark, "/root/testdata/sf0.001", "embeddings").select(
            "vec_id", "embedding"
        )
        q = with_quantized_embedding(emb)
        rows = q.withColumn(
            "deq", dequantize_embedding(F.col("embedding_q8"), F.col("embedding_scale"))
        ).collect()
        assert rows
        for r in rows:
            orig = [float(v) for v in r["embedding"]]
            scale = r["embedding_scale"]
            # every quantized component fits int8 and reconstructs within
            # half a quantization step
            assert all(-127 <= v <= 127 for v in r["embedding_q8"])
            for a, b in zip(orig, r["deq"]):
                assert abs(a - b) <= scale / 2 + 1e-12
            # int8 dot approximates the float dot to quantization order
            d_f = sum(a * a for a in orig)
            d_q = sum(b * b for b in r["deq"])
            dim = len(orig)
            tol = 2.0 * scale * math.sqrt(d_f) * dim ** 0.5 + scale * scale * dim
            assert abs(d_f - d_q) <= tol

    def test_quantization_is_jvm_only(self, spark):
        from xcube_geodb_spark.functions.similarity import with_quantized_embedding
        from xcube_geodb_spark.suite.util import load

        emb = load(spark, "/root/testdata/sf0.001", "embeddings")
        plan = (
            with_quantized_embedding(emb)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


class TestKnnJoin:
    def _emb(self, spark):
        from xcube_geodb_spark.suite.util import load

        return load(spark, "/root/testdata/sf0.001", "embeddings").select(
            "vec_id", "embedding"
        )

    def test_matches_brute_force(self, spark):
        from xcube_geodb_spark.functions.similarity import knn_join

        emb = self._emb(spark)
        queries = emb.filter(F.col("vec_id") % 20 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = knn_join(emb, queries, k=4).collect()

        rows = emb.collect()
        qrows = queries.collect()
        import numpy as np

        expected = {}
        for q in qrows:
            qv = np.array([float(x) for x in q["embedding"]])
            sims = []
            for r in rows:
                v = np.array([float(x) for x in r["embedding"]])
                c = float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
                sims.append((round(c, 6), r["vec_id"]))
            sims.sort(key=lambda t: (-t[0], t[1]))
            expected[q["query_id"]] = [vid for _, vid in sims[:4]]

        by_q: dict = {}
        for r in sorted(got, key=lambda r: (-r["cos_sim"], r["vec_id"])):
            by_q.setdefault(r["query_id"], []).append(r["vec_id"])
        assert by_q == expected

    def test_k_rows_per_query_and_self_first(self, spark):
        from xcube_geodb_spark.functions.similarity import knn_join

        emb = self._emb(spark)
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = knn_join(emb, queries, k=5).collect()
        counts: dict = {}
        tops: dict = {}
        for r in out:
            counts[r["query_id"]] = counts.get(r["query_id"], 0) + 1
            if r["cos_sim"] == 1.0:
                tops.setdefault(r["query_id"], set()).add(r["vec_id"])
        assert counts == {0: 5, 1: 5, 2: 5}
        for qid in (0, 1, 2):
            assert qid in tops.get(qid, set())  # each query finds itself

    def test_null_and_zero_norm_vectors_match_cosine_topk(self, spark):
        """A NULL corpus vector is skipped and a zero-norm one scores
        NULL: each query's rows equal cosine_topk's for that vector."""
        from xcube_geodb_spark.functions.similarity import (
            cosine_topk,
            knn_join,
        )

        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0, 0.0]),
                (1, [0.0, 0.0, 0.0]),
                (2, None),
                (3, [0.6, 0.8, 0.0]),
                (4, [0.0, 0.0, 1.0]),
                (5, [-1.0, 0.0, 0.0]),
            ],
            "vec_id long, embedding array<float>",
        )
        qvecs = {10: [1.0, 0.0, 0.0], 11: [0.0, 0.6, 0.8]}
        queries = spark.createDataFrame(
            list(qvecs.items()), "query_id long, embedding array<float>"
        )
        # k reaches the zero-norm row, one past the last real score
        k = 5
        got: dict = {}
        for r in knn_join(emb, queries, k=k).collect():
            got.setdefault(r["query_id"], []).append(
                (r["vec_id"], r["cos_sim"])
            )
        for qid, qv in qvecs.items():
            want = [
                (r["vec_id"], r["cos_sim"])
                for r in cosine_topk(emb, qv, k=k).collect()
            ]
            assert sorted(got[qid], key=want.index) == want
            assert want[-1] == (1, None)

    def test_corpus_smaller_than_k(self, spark):
        from xcube_geodb_spark.functions.similarity import knn_join

        emb = self._emb(spark).filter(F.col("vec_id") < 3)
        queries = emb.limit(1).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        assert knn_join(emb, queries, k=10).count() == 3

    def test_empty_queries_raises(self, spark):
        from xcube_geodb_spark.functions.similarity import knn_join

        emb = self._emb(spark)
        with pytest.raises(ValueError):
            knn_join(emb, emb.filter(F.col("vec_id") < 0).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ))

    def test_oversized_query_batch_raises(self, spark):
        from xcube_geodb_spark.functions.similarity import knn_join

        emb = self._emb(spark)
        queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
        with pytest.raises(ValueError, match="max_batch"):
            knn_join(emb, queries, k=2, max_batch=2)


class TestTopNgrams:
    def test_counts_and_order(self, spark):
        from xcube_geodb_spark.functions.text import top_ngrams

        docs = spark.createDataFrame(
            [("a b a b c",), ("a b x",), ("zz",)], ["text"]
        )
        rows = top_ngrams(docs, n=2, k=3).collect()
        assert [(r["ngram"], r["n"]) for r in rows] == [
            ("a b", 3), ("b a", 1), ("b c", 1)]

    def test_short_docs_contribute_nothing(self, spark):
        from xcube_geodb_spark.functions.text import top_ngrams

        docs = spark.createDataFrame([("one",), ("",)], ["text"])
        assert top_ngrams(docs, n=2, k=5).count() == 0

    def test_trigram_plan_heap_topk(self, spark):
        from xcube_geodb_spark.functions.text import top_ngrams

        docs = spark.createDataFrame([("a b c d",)], ["text"])
        out = top_ngrams(docs, n=3, k=2)
        assert [r["ngram"] for r in out.collect()] == ["a b c", "b c d"]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestUnigramLogprob:
    def test_matches_hand_math(self, spark):
        import math

        from xcube_geodb_spark.functions.text import unigram_logprob

        # corpus: 6 tokens total; "a" x3, "b" x2, "c" x1
        docs = spark.createDataFrame(
            [(1, "a a b"), (2, "a b c")], ["doc_id", "text"]
        )
        got = {r["doc_id"]: (r["n_tokens"], r["nll"])
               for r in unigram_logprob(docs).collect()}
        pa, pb, pc = 3 / 6, 2 / 6, 1 / 6
        nll1 = round((2 * round(-math.log(pa), 7) + round(-math.log(pb), 7)) / 3, 6)
        nll2 = round((round(-math.log(pa), 7) + round(-math.log(pb), 7)
                      + round(-math.log(pc), 7)) / 3, 6)
        assert got[1] == (3, pytest.approx(nll1, abs=1e-6))
        assert got[2] == (3, pytest.approx(nll2, abs=1e-6))
        # rarer tokens -> higher surprisal
        assert got[2][1] > got[1][1]

    def test_gibberish_scores_higher(self, spark):
        from xcube_geodb_spark.functions.text import unigram_logprob

        common = "the cat sat on the mat " * 20
        docs = spark.createDataFrame(
            [(i, common) for i in range(20)]
            + [(99, "zxqv wkjh qpzm vvxk zzyy qqpp")],
            ["doc_id", "text"],
        )
        got = {r["doc_id"]: r["nll"] for r in unigram_logprob(docs).collect()}
        assert got[99] > got[0] * 2


class TestQuantizedTopk:
    def test_close_to_float_ranking(self, spark):
        import numpy as np

        from xcube_geodb_spark.functions.similarity import (
            quantized_topk,
            with_quantized_embedding,
        )

        rng = np.random.default_rng(11)
        vecs = rng.normal(size=(200, 16)).astype("float32")
        q = vecs[0].tolist()
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        qdf = with_quantized_embedding(df).select(
            "vec_id", "embedding_q8", "embedding_scale"
        )
        got = [r["vec_id"] for r in quantized_topk(qdf, q, k=10).collect()]
        exact = np.argsort(-(vecs.astype("float64") @ np.array(q)))[:10]
        # int8 quantization: self-match first, strong overlap with exact
        assert got[0] == 0
        assert len(set(got) & set(exact.tolist())) >= 7

    def test_scores_match_integer_replay(self, spark):
        from xcube_geodb_spark.functions.similarity import (
            quantized_topk,
            with_quantized_embedding,
        )

        df = spark.createDataFrame(
            [(1, [1.0, -2.0, 3.0]), (2, [0.5, 0.5, 0.5])],
            "vec_id long, embedding array<float>",
        )
        qdf = with_quantized_embedding(df).select(
            "vec_id", "embedding_q8", "embedding_scale"
        )
        rows = {r["vec_id"]: r["score_q"]
                for r in quantized_topk(qdf, [1.0, -2.0, 3.0], k=2).collect()}
        # codes for [1,-2,3] at scale 3/127: [42,-85,127]; query identical
        s = 3.0 / 127.0
        expect1 = round((42 * 42 + 85 * 85 + 127 * 127) * s * s, 9)
        assert rows[1] == expect1
        assert rows[1] > rows[2]


class TestProductQuantization:
    def _data(self, spark, n=300, dim=32, seed=5):
        import numpy as np

        rng = np.random.default_rng(seed)
        vecs = rng.normal(size=(n, dim)).astype("float32")
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        return df, vecs

    def test_codes_shape_and_bounds(self, spark):
        from xcube_geodb_spark.functions.similarity import (
            pq_codebooks,
            pq_encode,
        )

        df, _ = self._data(spark)
        books = pq_codebooks(df, n_subspaces=4, n_centroids=8)
        assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 8
        rows = pq_encode(df, books).select("pq_code").collect()
        for r in rows:
            assert len(r["pq_code"]) == 4
            assert all(0 <= c < 8 for c in r["pq_code"])

    def test_seed_vectors_encode_to_own_codes(self, spark):
        from xcube_geodb_spark.functions.similarity import (
            pq_codebooks,
            pq_encode,
        )

        df, _ = self._data(spark)
        books = pq_codebooks(df, n_subspaces=4, n_centroids=8)
        rows = {r["vec_id"]: r["pq_code"] for r in
                pq_encode(df, books).filter("vec_id < 8").collect()}
        for vid in range(8):
            # a seed vector's sub-slices ARE centroids -> distance 0
            assert list(rows[vid]) == [vid] * 4

    def test_adc_recall_vs_brute_force(self, spark):
        import numpy as np

        from xcube_geodb_spark.functions.similarity import (
            pq_codebooks,
            pq_encode,
            pq_topk,
        )

        df, vecs = self._data(spark)
        books = pq_codebooks(df, n_subspaces=8, n_centroids=8)
        enc = pq_encode(df, books).select("vec_id", "pq_code")
        q = vecs[3].astype("float64")
        got = [r["vec_id"] for r in pq_topk(enc, q.tolist(), books, k=20).collect()]
        exact = np.argsort(((vecs.astype("float64") - q) ** 2).sum(axis=1))[:20]
        # coarse 8x8 seeded codebooks: self-match + meaningful overlap
        assert 3 in got[:3]
        assert len(set(got) & set(exact.tolist())) >= 5

    def test_no_udf_plan(self, spark):
        from xcube_geodb_spark.functions.similarity import (
            pq_codebooks,
            pq_encode,
            pq_topk,
        )

        df, _ = self._data(spark, n=50)
        books = pq_codebooks(df, n_subspaces=4, n_centroids=4)
        out = pq_topk(pq_encode(df, books), [0.0] * 32, books, k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_dimension_mismatch_raises(self, spark):
        import pytest as _pytest

        from xcube_geodb_spark.functions.similarity import (
            pq_codebooks,
            pq_topk,
        )

        df, _ = self._data(spark, n=20)
        books = pq_codebooks(df, n_subspaces=4, n_centroids=4)
        with _pytest.raises(ValueError):
            pq_topk(df, [0.0] * 7, books)
        with _pytest.raises(ValueError):
            pq_codebooks(df, n_subspaces=5, n_centroids=4)  # 32 % 5 != 0


class TestLineDedup:
    @pytest.fixture(scope="class")
    def lined_docs(self, spark):
        rows = [
            (1, "alpha beta\ncommon footer\nunique one"),
            (2, "gamma delta\ncommon footer\nunique two"),
            (3, "common footer\ncommon footer"),  # doc is only boilerplate
            (4, "entirely original line\nanother original line"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_removes_corpus_frequent_lines(self, lined_docs):
        out = {
            r["doc_id"]: r for r in dedup.line_dedup(lined_docs).collect()
        }
        assert out[1]["text"] == "alpha beta\nunique one"
        assert out[1]["n_lines"] == 2 and out[1]["n_removed"] == 1
        assert out[2]["text"] == "gamma delta\nunique two"
        # doc 3 was pure boilerplate: all lines removed, doc dropped
        assert 3 not in out
        # untouched doc keeps original order and counts
        assert out[4]["text"] == "entirely original line\nanother original line"
        assert out[4]["n_removed"] == 0

    def test_within_doc_repeats_count_toward_frequency(self, spark):
        # a line repeated twice inside ONE doc meets min_count=2
        df = spark.createDataFrame(
            [(1, "dup line\nkeep me\ndup line")], "doc_id long, text string"
        )
        out = dedup.line_dedup(df).collect()
        assert len(out) == 1 and out[0]["text"] == "keep me"

    def test_min_count_threshold(self, lined_docs):
        out = {
            r["doc_id"]: r
            for r in dedup.line_dedup(lined_docs, min_count=4).collect()
        }
        # "common footer" appears 4 times corpus-wide (docs 1, 2, 3 twice)
        assert out[1]["text"] == "alpha beta\nunique one"
        assert 3 not in out
        out5 = {
            r["doc_id"]: r
            for r in dedup.line_dedup(lined_docs, min_count=5).collect()
        }
        assert out5[1]["n_removed"] == 0 and 3 in out5

    def test_input_partitions_knob_preserves_results(self, lined_docs):
        # the r10 fan-out valve for small-but-CPU-dense inputs: results
        # are partition-count independent (deterministic agg + anti-join
        # + pos-sorted reassembly)
        base = sorted(
            (r["doc_id"], r["text"], r["n_lines"], r["n_removed"])
            for r in dedup.line_dedup(lined_docs).collect()
        )
        fanned = sorted(
            (r["doc_id"], r["text"], r["n_lines"], r["n_removed"])
            for r in dedup.line_dedup(
                lined_docs, input_partitions=16
            ).collect()
        )
        assert base == fanned


class TestDedupAgainst:
    def test_incremental_exact_near_and_kept(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely different content about spark engines and data"),
            ],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [
                (10, "the quick brown fox jumps over the lazy dog"),  # exact
                (11, "the quick brown fox jumps over the lazy cat today"),  # near
                (12, "der hund ist nicht die katze und das ist gut"),  # novel
            ],
            "doc_id long, text string",
        )
        kept = sorted(
            r["doc_id"]
            for r in dedup.dedup_against(
                new, corpus, jaccard_threshold=0.3, bands=6
            ).collect()
        )
        assert 10 not in kept  # exact duplicate of corpus
        assert 12 in kept  # novel doc survives
        # near dup: at J≈0.67 and bands=6/r=2 collision is ~97%; accept
        # either outcome only if the candidate stage found it
        # (deterministic given the fixed hash family)
        assert kept in ([12], [11, 12]) and len(kept) <= 2

    def test_corpus_never_modified(self, spark):
        corpus = spark.createDataFrame(
            [(1, "some corpus document body text")], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(9, "some corpus document body text")], "doc_id long, text string"
        )
        out = dedup.dedup_against(new, corpus)
        assert out.count() == 0
        assert corpus.count() == 1


class TestSimhashNearPairs:
    def test_complete_cover_matches_bruteforce(self, spark, docs):
        fps = {
            r["doc_id"]: r["simhash"]
            for r in dedup.simhash_fingerprints(docs, bits=16).collect()
        }
        k = 3
        expected = set()
        ids = sorted(fps)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ham = sum(x != y for x, y in zip(fps[a], fps[b]))
                if ham <= k:
                    expected.add((a, b, ham))
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup.simhash_near_pairs(
                docs, bits=16, max_hamming=k
            ).collect()
        }
        assert got == expected  # pigeonhole cover is exact, not a sample

    def test_exact_dups_at_distance_zero(self, spark, docs):
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in dedup.simhash_near_pairs(
                docs, bits=16, max_hamming=0
            ).collect()
        }
        assert got.get((1, 2)) == 0

    def test_validates_max_hamming(self, spark, docs):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            dedup.simhash_near_pairs(docs, bits=16, max_hamming=16)


class TestImageDims:
    """Real (codec-free) image header parsing for multimodal columns."""

    @staticmethod
    def _png(w, h):
        return (
            b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
            + w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x06" * 3
        )

    @staticmethod
    def _jpeg(w, h):
        app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\0" * 9
        sof0 = (
            b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03" + b"\0" * 9
        )
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    @staticmethod
    def _gif(w, h):
        return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")

    def test_parse_formats(self):
        from xcube_geodb_spark.functions.multimodal import parse_image_dims

        assert parse_image_dims(self._png(640, 480)) == ("png", 640, 480)
        assert parse_image_dims(self._jpeg(1920, 1080)) == ("jpeg", 1920, 1080)
        assert parse_image_dims(self._gif(32, 16)) == ("gif", 32, 16)
        bmp = (
            b"BM" + b"\0" * 12 + (40).to_bytes(4, "little")
            + (200).to_bytes(4, "little")
            + (-100 & 0xFFFFFFFF).to_bytes(4, "little")
        )
        assert parse_image_dims(bmp) == ("bmp", 200, 100)  # top-down height
        assert parse_image_dims(b"not an image at all") is None

    def test_bmp_core_header_and_unknown_dib(self):
        from xcube_geodb_spark.functions.multimodal import parse_image_dims

        # BITMAPCOREHEADER (OS/2): 12-byte DIB, 16-bit dims at 18/20
        core = (
            b"BM" + b"\0" * 12 + (12).to_bytes(4, "little")
            + (320).to_bytes(2, "little") + (240).to_bytes(2, "little")
            + b"\x01\x00\x18\x00"
        )
        assert parse_image_dims(core) == ("bmp", 320, 240)
        # unknown DIB header size -> None, not garbage dims
        weird = b"BM" + b"\0" * 12 + (17).to_bytes(4, "little") + b"\0" * 8
        assert parse_image_dims(weird) is None

    def test_jpeg_skips_non_sof_segments(self):
        from xcube_geodb_spark.functions.multimodal import parse_image_dims

        # DHT (0xC4) before SOF2 (0xC2, progressive) must be skipped
        dht = b"\xff\xc4" + (5).to_bytes(2, "big") + b"\0\0\0"
        sof2 = (
            b"\xff\xc2" + (17).to_bytes(2, "big") + b"\x08"
            + (77).to_bytes(2, "big") + (99).to_bytes(2, "big")
            + b"\x03" + b"\0" * 9
        )
        assert parse_image_dims(b"\xff\xd8" + dht + sof2) == ("jpeg", 99, 77)

    def test_with_image_dims_stage(self, spark):
        from xcube_geodb_spark.functions.multimodal import with_image_dims

        df = spark.createDataFrame(
            [
                (1, self._png(10, 20)),
                (2, self._gif(3, 4)),
                (3, b"garbage"),
                (4, None),
            ],
            "doc_id long, payload binary",
        )
        out = {
            r["doc_id"]: r["image_meta"]
            for r in with_image_dims(df).collect()
        }
        assert out[1]["format"] == "png" and (out[1]["width"], out[1]["height"]) == (10, 20)
        assert out[2]["format"] == "gif" and out[2]["height"] == 4
        assert out[3]["format"] is None
        assert out[4]["format"] is None
        # other columns pass through
        assert set(out) == {1, 2, 3, 4}


def _anchor_token(stride: int, prefix: str = "anchor") -> str:
    """A token the content-defined anchor rule selects (md5 slice == 0 mod
    stride) — the same replayable rule duplicate_spans uses."""
    import hashlib

    j = 0
    while True:
        t = f"{prefix}{j}"
        if int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % stride == 0:
            return t
        j += 1


class TestDuplicateSpans:
    def test_finds_shared_passage_at_any_offsets(self, spark):
        # plant an anchor early in the shared passage: content-defined
        # starts make collisions alignment-independent (a fixed stride
        # grid would need the offsets to agree mod stride)
        shared = _anchor_token(10) + " " + " ".join(
            f"w{i}" for i in range(25)
        )
        rows = [
            (1, "intro one two three " + shared + " outro alpha"),
            (2, "different lead-in text here now " + shared + " tail beta"),
            (3, "no overlap with anything else at all whatsoever"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.duplicate_spans(df, n=20, stride=10).collect()
        docs = {r["doc_id"] for r in out}
        assert docs == {1, 2}  # both holders flagged, doc 3 untouched
        assert all(r["n_occurrences"] == 2 for r in out)
        # the colliding spans sit at DIFFERENT offsets in each doc
        starts = {r["doc_id"]: r["start_tok"] for r in out}
        assert starts[1] != starts[2]

    def test_short_docs_hash_whole_document(self, spark):
        df = spark.createDataFrame(
            [(1, "tiny doc"), (2, "tiny doc"), (3, "other tiny")],
            "doc_id long, text string",
        )
        out = dedup.duplicate_spans(df, n=20, stride=10).collect()
        assert {r["doc_id"] for r in out} == {1, 2}
        # the position-0 fallback anchor always hashes the whole short doc
        assert any(r["start_tok"] == 0 for r in out)

    def test_validates_params(self, spark):
        import pytest as _pytest

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            dedup.duplicate_spans(df, n=0)


class TestFuzzyJoin:
    def test_links_near_matches_across_frames(self, spark):
        left = spark.createDataFrame(
            [
                (1, "acme incorporated global logistics division"),
                (2, "completely unrelated record with other words"),
            ],
            "rec_id long, name string",
        )
        right = spark.createDataFrame(
            [
                (101, "acme incorporated global logistics division plus"),
                (102, "some third thing entirely different here now"),
            ],
            "rid long, label string",
        )
        out = dedup.fuzzy_join(
            left, right, left_text="name", right_text="label",
            left_id="rec_id", right_id="rid", threshold=0.3, bands=6,
        ).collect()
        pairs = {(r["rec_id"], r["rid"]): r["jaccard"] for r in out}
        assert (1, 101) in pairs and pairs[(1, 101)] >= 0.3
        assert all(k == (1, 101) for k in pairs)

    def test_colliding_id_names_get_suffixes(self, spark):
        df = spark.createDataFrame(
            [(1, "the same text appears on both sides here")],
            "doc_id long, text string",
        )
        out = dedup.fuzzy_join(df, df, threshold=0.9)
        assert set(out.columns) == {"doc_id_l", "doc_id_r", "jaccard"}
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["jaccard"] == 1.0


class TestBigramLogprob:
    def test_hand_math_two_docs(self, spark):
        import math

        # corpus: "a b" and "a c"; N=4, tf(a)=2, tf(b)=tf(c)=1
        # bigrams: (a,b) c12=1, (a,c) c12=1, c(a,.)=2
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a c")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in text.bigram_logprob(df).collect()}
        s_first = round(-math.log(2 / 4), 7)  # 'a' under the unigram
        s_b = round(-math.log(0.75 * (1 / 2) + 0.25 * (1 / 4)), 7)
        for d in (1, 2):
            assert out[d]["n_tokens"] == 2
            assert out[d]["nll2"] == round((s_first + s_b) / 2, 6)

    def test_improbable_transitions_score_higher(self, spark):
        # same unigram profile, scrambled transitions
        fluent = "the cat sat on the mat and the cat sat on the mat again"
        rows = [(i, fluent) for i in range(8)] + [
            (100, "mat the on sat cat the and mat the on sat cat the again")
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["nll2"] for r in text.bigram_logprob(df).collect()}
        assert out[100] > out[0]

    def test_single_token_doc_scores_unigram_only(self, spark):
        df = spark.createDataFrame(
            [(1, "solo"), (2, "solo pair")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in text.bigram_logprob(df).collect()}
        assert out[1]["n_tokens"] == 1


class TestDedupProperties:
    """Hypothesis invariants for the corpus dedup operators."""

    @pytest.mark.slow
    def test_line_dedup_identity_when_threshold_unreachable(self, spark):
        from hypothesis import given, settings, strategies as st

        word = st.text(alphabet="abcdef", min_size=1, max_size=5)
        line = st.lists(word, min_size=1, max_size=4).map(" ".join)
        docs_strategy = st.lists(
            st.lists(line, min_size=1, max_size=5).map("\n".join),
            min_size=1,
            max_size=6,
        )

        @given(docs_strategy)
        @settings(max_examples=12, deadline=None)
        def check(texts):
            df = spark.createDataFrame(
                list(enumerate(texts)), "doc_id long, text string"
            )
            out = {
                r["doc_id"]: r
                for r in dedup.line_dedup(df, min_count=10**6).collect()
            }
            # no line can repeat a million times: identity, nothing removed
            assert len(out) == len(texts)
            for i, t in enumerate(texts):
                assert out[i]["text"] == t
                assert out[i]["n_removed"] == 0

        check()

    def test_duplicate_spans_anchor_guarantee(self, spark):
        import random

        rng = random.Random(11)
        n, stride = 12, 6
        anchor = _anchor_token(stride)
        for trial in range(4):
            # an anchored token within the passage's first len-n+1 tokens
            # guarantees a collision at ANY document offsets
            shared = anchor + " " + " ".join(
                f"s{trial}w{i}" for i in range(n + 2)
            )
            pre_a = " ".join(f"a{i}" for i in range(rng.randint(0, 9)))
            pre_b = " ".join(f"b{i}" for i in range(rng.randint(0, 9)))
            df = spark.createDataFrame(
                [
                    (1, (pre_a + " " + shared).strip()),
                    (2, (pre_b + " " + shared).strip()),
                ],
                "doc_id long, text string",
            )
            out = dedup.duplicate_spans(df, n=n, stride=stride).collect()
            assert {r["doc_id"] for r in out} == {1, 2}, (
                f"trial {trial}: no collision for offsets "
                f"{len(pre_a.split())}/{len(pre_b.split())}"
            )


class TestDeepComponents:
    @pytest.mark.slow
    def test_long_chain_converges_via_pointer_jumping(self, spark):
        # a 3000-node path: diameter 2999. Plain label propagation moves
        # the min one hop per round and could never converge in 20 rounds;
        # pointer jumping halves the remaining distance each round.
        n = 3000
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
        )
        out = dedup.duplicate_clusters(pairs)
        labels = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
        assert len(labels) == n
        assert set(labels.values()) == {1}  # one component, min-id label

    def test_releases_superseded_checkpoint_blocks(self, spark):
        # multi-round convergence must not accumulate one checkpointed
        # frame per round: after the result materializes, only the
        # checkpoints the returned plan still references may remain —
        # the final root labels and the node->root0 map (both O(|V|));
        # reduced edges, the local union-find output, and every
        # superseded round must be released. O(|V|) block storage, not
        # O(rounds x |V|).
        before = {
            int(i)
            for i in spark.sparkContext._jsc.getPersistentRDDs()
            .keySet()
            .toArray()
        }
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 300)], "id_a long, id_b long"
        )
        out = dedup.duplicate_clusters(pairs)
        assert out.count() == 300
        after = {
            int(i)
            for i in spark.sparkContext._jsc.getPersistentRDDs()
            .keySet()
            .toArray()
        }
        assert len(after - before) <= 2

    def test_many_small_components_stay_separate(self, spark):
        pairs = spark.createDataFrame(
            [(10 * c + 1, 10 * c + 2) for c in range(200)]
            + [(10 * c + 2, 10 * c + 3) for c in range(200)],
            "id_a long, id_b long",
        )
        out = dedup.duplicate_clusters(pairs)
        labels = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
        assert len(set(labels.values())) == 200
        for c in range(0, 200, 37):
            base = 10 * c + 1
            assert labels[base + 1] == base and labels[base + 2] == base


class TestLineDedupGrouped:
    def test_frequency_counts_within_group_only(self, spark):
        rows = [
            (1, "siteA", "footer\nunique one"),
            (2, "siteA", "footer\nunique two"),
            # the same "footer" line on an unrelated source must survive
            (3, "siteB", "footer\nother content"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = {
            r["doc_id"]: r
            for r in dedup.line_dedup(df, group_cols=["source"]).collect()
        }
        assert out[1]["text"] == "unique one" and out[1]["n_removed"] == 1
        assert out[2]["text"] == "unique two"
        assert out[3]["text"] == "footer\nother content"
        assert out[3]["n_removed"] == 0

    def test_ungrouped_still_bans_globally(self, spark):
        rows = [
            (1, "siteA", "footer\nunique one"),
            (3, "siteB", "footer\nother content"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = {r["doc_id"]: r["text"] for r in dedup.line_dedup(df).collect()}
        assert out == {1: "unique one", 3: "other content"}

    def test_regex_metachar_separator_splits_literally(self, spark):
        # '||' is a Java regex alternation that would split every char;
        # the escaped literal must round-trip content exactly
        rows = [(1, "dup||keep one"), (2, "dup||keep two")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r["text"]
            for r in dedup.line_dedup(df, sep="||").collect()
        }
        assert out == {1: "keep one", 2: "keep two"}
        # '.' separator: identity when nothing repeats
        df2 = spark.createDataFrame(
            [(1, "alpha.beta"), (2, "gamma.delta")], "doc_id long, text string"
        )
        out2 = {
            r["doc_id"]: r["text"]
            for r in dedup.line_dedup(df2, sep=".").collect()
        }
        assert out2 == {1: "alpha.beta", 2: "gamma.delta"}


class TestRealCodecs:
    """The library-free REAL codecs (PCM WAV + 24-bit BMP): full
    sample/pixel decodes with independently-constructed fixtures, plus
    the Spark injection points running them distributed."""

    @staticmethod
    def _wav_bytes(sr=8000, freq=440.0, seconds=0.5, amp=0.5):
        import io
        import math
        import struct
        import wave

        n = int(sr * seconds)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sr)
            frames = b"".join(
                struct.pack(
                    "<h", int(amp * 32767 * math.sin(2 * math.pi * freq * i / sr))
                )
                for i in range(n)
            )
            w.writeframes(frames)
        return buf.getvalue()

    def test_wav_decode_matches_signal_math(self):
        import math

        from xcube_geodb_spark.functions.multimodal import decode_wav_features

        dur, sr, nch, rms, peak = decode_wav_features(
            self._wav_bytes(sr=8000, freq=440.0, seconds=0.5, amp=0.5)
        )
        assert (dur, sr, nch) == (0.5, 8000.0, 1.0)
        # a 0.5-amplitude sine has rms amp/sqrt(2) and peak ~= amp
        assert rms == pytest.approx(0.5 / math.sqrt(2), rel=2e-3)
        assert peak == pytest.approx(0.5, rel=2e-3)

    def test_wav_rejects_non_wav(self):
        from xcube_geodb_spark.functions.multimodal import decode_wav_features

        with pytest.raises(Exception):
            decode_wav_features(b"not a wav at all")

    def test_bmp_roundtrip_decode_resize(self):
        import numpy as np

        from xcube_geodb_spark.functions.multimodal import (
            _bmp24_pixels,
            decode_bmp_features,
            encode_bmp24,
            parse_image_dims,
            resize_bmp,
        )

        px = np.zeros((4, 6, 3), dtype=np.uint8)
        px[:, :, 0] = 200  # red plane
        px[0, 0] = (10, 20, 30)
        payload = encode_bmp24(px)
        assert parse_image_dims(payload) == ("bmp", 6, 4)
        back = _bmp24_pixels(payload)
        assert (back == px).all()
        w, h, mr, mg, mb = decode_bmp_features(payload)
        assert (w, h) == (6.0, 4.0)
        assert mr == pytest.approx(px[:, :, 0].mean())
        assert mb == pytest.approx(px[:, :, 2].mean())
        # nearest-neighbor 2x upscale: every source pixel duplicated
        up = _bmp24_pixels(resize_bmp(payload, 12, 8))
        assert up.shape == (8, 12, 3)
        assert (up[0, 0] == px[0, 0]).all()
        assert (up[1, 1] == px[0, 0]).all()
        assert (up[::2, ::2] == px).all()

    def test_bmp_row_padding_and_rejects(self):
        import numpy as np

        from xcube_geodb_spark.functions.multimodal import (
            _bmp24_pixels,
            encode_bmp24,
        )

        # width 3 -> 9-byte rows padded to 12: padding must not leak
        px = np.arange(3 * 3 * 3, dtype=np.uint8).reshape(3, 3, 3)
        assert (_bmp24_pixels(encode_bmp24(px)) == px).all()
        with pytest.raises(ValueError):
            _bmp24_pixels(b"PNG nope")

    def test_real_codecs_through_spark_injection(self, spark):
        import numpy as np

        from xcube_geodb_spark.functions.multimodal import (
            decode_bmp_features,
            decode_features,
            encode_bmp24,
            resize_bmp,
            resize_images,
        )

        imgs = [
            (i, encode_bmp24(np.full((4, 4, 3), i * 10, dtype=np.uint8)))
            for i in range(1, 4)
        ]
        df = spark.createDataFrame(imgs, "doc_id long, payload binary")
        feats = {
            r["doc_id"]: r
            for r in decode_features(
                df, decoder=decode_bmp_features, n_features=5
            ).collect()
        }
        assert feats[2]["feat2"] == pytest.approx(20.0)  # mean red
        resized = {
            r["doc_id"]: bytes(r["payload"])
            for r in resize_images(df, 2, 2, resizer=resize_bmp).collect()
        }
        from xcube_geodb_spark.functions.multimodal import parse_image_dims

        assert parse_image_dims(resized[1]) == ("bmp", 2, 2)


class TestSemanticDedup:
    """SemDeDup (dedup.semantic_dedup): threshold behavior with
    NON-identical near-duplicates — the part the closed-form driver gate
    (identical vectors) deliberately doesn't exercise."""

    def test_near_duplicates_pruned_lowest_id_survives(self, spark):
        import math

        rows = [
            # a tight bundle around e0: cos(5deg) ~ 0.9962 > 0.95
            (1, [1.0, 0.0, 0.0]),
            (2, [math.cos(0.087), math.sin(0.087), 0.0]),
            (3, [math.cos(0.087), 0.0, math.sin(0.087)]),
            # far from the bundle (cos 45deg ~ 0.707): kept
            (4, [math.cos(0.785), math.sin(0.785), 0.0]),
            # orthogonal group: kept
            (5, [0.0, 0.0, 1.0]),
            # scaling must not matter (cosine): near-dup of id 5
            (6, [0.0, 0.0, 7.5]),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        kept = sorted(
            r.vec_id
            for r in dedup.semantic_dedup(
                df, threshold=0.95, n_clusters=2, sample_size=10
            ).collect()
        )
        assert kept == [1, 4, 5]

    def test_cluster_cap_fails_fast(self, spark):
        from xcube_geodb_spark.errors import GeoDBError

        df = spark.createDataFrame(
            [(i, [1.0, 0.0]) for i in range(10)],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(Exception) as e:
            dedup.semantic_dedup(
                df, threshold=0.99, n_clusters=1, max_cluster=5
            ).collect()
        assert "max_cluster" in str(e.value)
