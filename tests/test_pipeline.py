"""Tests for the training-data pipeline blocks: text analysis,
dedup, similarity, multimodal. (The DuckDB oracle gate covers value
parity; these cover semantics, edge cases, and form agreement.)"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat", "en", "s0", 22),
        (1, "the cat sat on the mat", "en", "s0", 22),  # exact dup of 0
        (2, "the cat sat on the big mat", "en", "s1", 26),  # near dup
        (3, "der hund und die katze", "de", "s1", 22),
        (4, "le chat et la souris", "fr", "s2", 20),
        (5, "completely different words entirely here", "en", "s2", 40),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


class TestText:
    def test_doc_stats(self, docs):
        from dask_traj_spark.functions.text import doc_stats

        pdf = doc_stats(docs).toPandas().set_index("doc_id").sort_index()
        assert pdf.loc[0, "n_tokens"] == 6
        assert pdf.loc[0, "n_distinct"] == 5  # 'the' twice
        assert pdf.loc[5, "n_tokens"] == 5
        np.testing.assert_allclose(
            pdf.loc[0, "mean_token_len"], (22 - 5) / 6
        )

    def test_spread_for_expansion(self, spark):
        from dask_traj_spark.functions.text import spread_for_expansion

        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        narrow = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(20)], ["doc_id", "text"]
        ).coalesce(1)
        spread = spread_for_expansion(narrow)
        assert spread.rdd.getNumPartitions() == width
        # content unchanged
        assert sorted(r.doc_id for r in spread.collect()) == list(range(20))
        # no-op when the input is already at (or beyond) full width
        wide = narrow.repartition(width + 2, "doc_id")
        assert spread_for_expansion(wide) is wide
        # no-op on streaming plans (.rdd would raise there)
        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        )
        assert spread_for_expansion(stream, key="value") is stream

    def test_quality_bounds(self, docs):
        from dask_traj_spark.functions.text import quality_score

        pdf = quality_score(docs).toPandas()
        assert ((pdf["quality"] >= 0) & (pdf["quality"] <= 1)).all()
        assert ((pdf["stopword_ratio"] >= 0) & (pdf["stopword_ratio"] <= 1)).all()

    def test_langid_markers(self, docs):
        from dask_traj_spark.functions.text import langid_scores

        pdf = langid_scores(docs).toPandas().set_index("doc_id")
        assert pdf.loc[0, "pred_lang"] == "en"  # 'the', 'a'
        assert pdf.loc[3, "pred_lang"] == "de"  # der/und/die
        assert pdf.loc[4, "pred_lang"] == "fr"  # le/la/et

    def test_tfidf_top_terms_hand_computed(self, spark):
        from dask_traj_spark.functions.text import tfidf_top_terms

        docs = spark.createDataFrame(
            [(0, "apple apple banana"),
             (1, "banana cherry"),
             (2, "cherry cherry cherry durian")],
            "doc_id long, text string",
        )
        # N=3; df: apple 1, banana 2, cherry 2, durian 1
        # scores tf*N/df — doc0: apple 6, banana 1.5; doc1: banana
        # 1.5 == cherry 1.5 (tie → term asc); doc2: cherry 4.5,
        # durian 3
        pdf = (
            tfidf_top_terms(docs, k=2)
            .toPandas()
            .sort_values(["doc_id", "rank"])
            .reset_index(drop=True)
        )
        assert list(pdf["term"]) == [
            "apple", "banana", "banana", "cherry", "cherry", "durian"
        ]
        assert list(pdf["tfidf_ratio_q6"]) == [6.0, 1.5, 1.5, 1.5, 4.5, 3.0]
        assert list(pdf["rank"]) == [1, 2, 1, 2, 1, 2]

    def test_tfidf_top_terms_ln_variant(self, spark):
        """idf='ln' gives the textbook tf·ln(N/df) scores, pinned
        against hand-computed values, including the ln-only behavior
        where a term present in every document scores exactly 0."""
        import math

        from dask_traj_spark.functions.text import tfidf_top_terms

        docs = spark.createDataFrame(
            [(0, "apple banana banana cherry cherry cherry"),
             (1, "banana x"),
             (2, "cherry y"),
             (3, "apple z")],
            "doc_id long, text string",
        )
        # N=4; df: apple 2, banana 2, cherry 2, x/y/z 1
        # doc0 ratio: apple 1*4/2=2, banana 2*4/2=4, cherry 3*4/2=6
        # doc0 ln:    apple ln(2)=0.693147, banana 2ln2=1.386294,
        #             cherry 3ln2=2.079442 — same order here; the
        #             value contract is what this test pins
        pdf = (
            tfidf_top_terms(docs, k=3, idf="ln")
            .toPandas()
            .sort_values(["doc_id", "rank"])
            .reset_index(drop=True)
        )
        d0 = pdf[pdf["doc_id"] == 0]
        assert list(d0["term"]) == ["cherry", "banana", "apple"]
        for got, tf in zip(d0["tfidf_ln_q6"], (3, 2, 1)):
            assert got == round(tf * math.log(2.0), 6)
        # a term present in EVERY doc scores 0 under ln (ranked only
        # by tie-break) but N/df=1 ≠ 0 under ratio — the documented
        # non-equivalence of the two variants
        docs2 = spark.createDataFrame(
            [(0, "common common rare"), (1, "common"), (2, "common")],
            "doc_id long, text string",
        )
        ln0 = (
            tfidf_top_terms(docs2, k=2, idf="ln")
            .where("doc_id = 0").toPandas().sort_values("rank")
        )
        assert list(ln0["term"]) == ["rare", "common"]
        assert list(ln0["tfidf_ln_q6"]) == [round(math.log(3.0), 6), 0.0]
        ratio0 = (
            tfidf_top_terms(docs2, k=2, idf="ratio")
            .where("doc_id = 0").toPandas().sort_values("rank")
        )
        assert list(ratio0["tfidf_ratio_q6"]) == [3.0, 2.0]  # rare 1*3/1, common 2*3/3

        import pytest as _pytest
        with _pytest.raises(ValueError, match="idf"):
            tfidf_top_terms(docs2, idf="log10")

    def test_bm25_topk_matches_independent_reference(self, spark):
        """bm25_topk vs a pure-Python double-loop BM25 with the same
        raw-ratio idf and dyadic snap — written from the formula, not
        from the Spark code — exact to the last bit, plus ranking and
        input-validation contracts."""
        import math

        import pytest as _pytest

        from dask_traj_spark.functions.text import bm25_topk

        corpus = [
            (0, "apple banana apple cherry"),
            (1, "banana banana cherry"),
            (2, "durian cherry apple apple apple"),
            (3, "x y z"),
            (4, "apple"),
        ]
        query, k1, b = "apple cherry", 1.2, 0.75
        terms = sorted(set(query.split()))
        toks = {d: [w for w in t.split(" ") if w] for d, t in corpus}
        n = len(corpus)
        total = sum(len(v) for v in toks.values())
        df = {
            t: sum(1 for v in toks.values() if t in v) for t in terms
        }
        want = {}
        for d, v in toks.items():
            s, matched = 0.0, 0
            for t in terms:
                tf = v.count(t)
                if not tf:
                    continue
                matched += 1
                idf = float(n) / float(df[t])
                rel = float(len(v) * n) / float(total)
                raw = (idf * (tf * (k1 + 1.0))) / (
                    tf + (k1 * (1.0 - b) + (k1 * b) * rel)
                )
                s += math.floor(raw * 1048576.0) / 1048576.0
            if matched:
                want[d] = (matched, round(s, 6))
        docs = spark.createDataFrame(corpus, "doc_id long, text string")
        pdf = bm25_topk(docs, query, k=10).toPandas()
        assert len(pdf) == len(want) == 4  # doc 3 matches nothing
        for _, r in pdf.iterrows():
            m, s = want[r["doc_id"]]
            assert r["matched_terms"] == m
            assert r["bm25_q6"] == s
        # descending score, doc_id tiebreak
        assert list(pdf["bm25_q6"]) == sorted(pdf["bm25_q6"], reverse=True)
        top = bm25_topk(docs, query, k=2).toPandas()
        assert list(top["doc_id"]) == list(pdf["doc_id"][:2])
        with _pytest.raises(ValueError, match="query term"):
            bm25_topk(docs, "   ")
        with _pytest.raises(ValueError, match="parameters"):
            bm25_topk(docs, query, b=1.5)

    def test_fingerprint_deterministic_and_discriminating(self, docs):
        from dask_traj_spark.functions.text import fingerprint

        a = fingerprint(docs).toPandas().set_index("doc_id")["fp"]
        b = fingerprint(docs).toPandas().set_index("doc_id")["fp"]
        assert (a == b).all()
        assert a[0] == a[1]  # identical texts
        assert a[0] != a[5]


class TestDedup:
    def test_exact(self, docs):
        from dask_traj_spark.operators.dedup import exact_duplicates

        pdf = exact_duplicates(docs).toPandas()
        assert len(pdf) == 5  # 6 docs, one exact pair
        dup = pdf[pdf["n"] == 2]
        assert len(dup) == 1 and dup["keep_id"].iloc[0] == 0

    def test_minhash_finds_near_dup(self, docs):
        from dask_traj_spark.operators.dedup import near_duplicates_minhash

        pdf = near_duplicates_minhash(docs, threshold=0.5).toPandas()
        pairs = set(zip(pdf["doc1"], pdf["doc2"]))
        assert (0, 1) in pairs  # identical → jaccard 1.0
        assert (0, 2) in pairs  # one extra token
        assert not any(5 in p for p in pairs)

    def test_minhash_jaccard_exact_value(self, docs):
        from dask_traj_spark.operators.dedup import near_duplicates_minhash

        pdf = near_duplicates_minhash(docs, threshold=0.5).toPandas()
        row = pdf[(pdf["doc1"] == 0) & (pdf["doc2"] == 2)]
        # tokens {the,cat,sat,on,mat} vs +{big}: 5/6
        np.testing.assert_allclose(row["jaccard"].iloc[0], 5 / 6)

    def test_release_caches_unpersists_tracked_intermediates(self, docs):
        """Dedup operators cache shared intermediates for the lazy
        result's lifetime; release_caches() must drop them all and
        leave the result recomputable (ADVICE r10)."""
        from dask_traj_spark import session as ds
        from dask_traj_spark.operators import dedup as dd

        before = len(ds._TRACKED_CACHES)
        result = dd.near_duplicates_minhash(docs, threshold=0.5)
        n_rows = result.count()  # materialize through the cache
        assert len(ds._TRACKED_CACHES) > before
        released = dd.release_caches()
        assert released >= 1 and not ds._TRACKED_CACHES
        # correctness survives release: lineage just recomputes
        assert result.count() == n_rows

    def test_quality_soft_dedup_apportions_by_quality(self, spark):
        """d22: a cluster's unit mass splits by quality (better copy
        gets the larger share), cluster sums conserve to ~1, and a
        singleton's weight is exactly 1.0 (q/q with q > 0)."""
        from dask_traj_spark.operators.dedup import (
            quality_soft_dedup_weights,
        )

        docs = spark.createDataFrame(
            [
                # cluster {0,1}: doc 0 is higher quality (more
                # distinct words + a stopword)
                (0, "the quick brown fox jumps over lazy dog"),
                (1, "spam spam spam spam spam spam spam spam"),
                (2, "a lone singleton document"),
            ],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame([(0, 1)], "id1 long, id2 long")
        pdf = (
            quality_soft_dedup_weights(docs, pairs)
            .toPandas()
            .set_index("doc_id")
        )
        assert len(pdf) == 3
        assert pdf.loc[0, "component"] == pdf.loc[1, "component"]
        assert pdf.loc[0, "weight"] > pdf.loc[1, "weight"] > 0
        np.testing.assert_allclose(
            pdf.loc[0, "weight"] + pdf.loc[1, "weight"], 1.0, rtol=1e-12
        )
        assert pdf.loc[2, "weight"] == 1.0  # exact: q/q

    def test_quality_soft_dedup_uniform_limit_is_d19(self, spark):
        """When every cluster member has the SAME quality q, d22's
        q/(n·q) is the correctly-rounded 1/n — bitwise equal to
        d19's uniform weight (the flat-quality limit the docstring
        claims)."""
        from dask_traj_spark.operators.dedup import (
            quality_soft_dedup_weights,
            soft_dedup_weights,
        )

        docs = spark.createDataFrame(
            [(i, "identical text for every member") for i in range(7)],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "id1 long, id2 long"
        )
        qw = (
            quality_soft_dedup_weights(docs, pairs)
            .toPandas().set_index("doc_id")["weight"].sort_index()
        )
        uw = (
            soft_dedup_weights(pairs, docs.select("doc_id"))
            .toPandas().set_index("doc_id")["weight"].sort_index()
        )
        assert (qw == uw).all()  # bitwise, not approx
        assert (qw == 1.0 / 7).all()

    def test_quality_expr_strictly_positive(self, spark):
        """The invariant d22's division rests on: t2 quality > 0 for
        ANY string (split yields >= 1 token, so length_score >= 1/50),
        including empty and whitespace-only texts."""
        from dask_traj_spark.functions.text import quality_expr

        docs = spark.createDataFrame(
            [(0, ""), (1, "   "), (2, "\t"), (3, "x")],
            "doc_id long, text string",
        )
        vals = docs.select(quality_expr("text").alias("q")).toPandas()["q"]
        assert (vals > 0).all(), vals.tolist()

    def test_simhash_identical_docs_equal(self, docs):
        from dask_traj_spark.operators.dedup import simhash

        pdf = simhash(docs).toPandas().set_index("doc_id")["sh"]
        assert pdf[0] == pdf[1]
        assert 0 <= pdf.min() and pdf.max() < 2 ** 16

    def test_ngram_jaccard(self, docs):
        from dask_traj_spark.operators.dedup import near_duplicates_ngram

        pdf = near_duplicates_ngram(docs, threshold=0.9).toPandas()
        pairs = set(zip(pdf["doc1"], pdf["doc2"]))
        assert (0, 1) in pairs
        assert (0, 2) not in pairs  # bigram jaccard 4/8 < 0.9


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.default_rng(3)
        base = rng.standard_normal((20, 64)).astype(np.float32)
        base[1] = base[0] + 0.01 * rng.standard_normal(64).astype(np.float32)
        rows = [(int(i), [float(x) for x in base[i]], int(i % 3)) for i in range(20)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )

    def test_topk_sql_finds_planted_neighbor(self, emb):
        from dask_traj_spark.operators.similarity import cosine_topk

        pdf = cosine_topk(emb, [0], k=3).toPandas()
        assert pdf[pdf["rank"] == 1]["vec_id"].iloc[0] == 1
        assert pdf[pdf["rank"] == 1]["cos"].iloc[0] > 0.99

    def test_topk_forms_agree(self, emb):
        from dask_traj_spark.operators.similarity import (
            cosine_topk,
            cosine_topk_vectorized,
        )

        a = cosine_topk(emb, [0, 5], k=5).toPandas().sort_values(["qid", "rank"])
        b = (
            cosine_topk_vectorized(emb, [0, 5], k=5)
            .toPandas()
            .sort_values(["qid", "rank"])
        )
        assert list(a["vec_id"]) == list(b["vec_id"])
        np.testing.assert_allclose(a["cos"], b["cos"], atol=1e-4)

    def test_ivf_topk_finds_planted_neighbor(self, emb):
        from dask_traj_spark.operators.similarity import cosine_topk_ivf

        pdf = (
            cosine_topk_ivf(emb, [0], k=3, n_centroids=4, nprobe=2)
            .toPandas()
            .sort_values("rank")
        )
        # planted near-duplicate (vec 1) shares vec 0's cluster
        assert pdf["vec_id"].iloc[0] == 1
        assert pdf["cos"].iloc[0] > 0.99

    def test_ivf_recall_vs_brute_force(self, emb):
        from dask_traj_spark.operators.similarity import (
            cosine_topk_ivf,
            cosine_topk_vectorized,
        )

        brute = cosine_topk_vectorized(emb, [0, 5], k=5).toPandas()
        ivf = cosine_topk_ivf(emb, [0, 5], k=5, n_centroids=4, nprobe=4).toPandas()
        # nprobe == n_centroids → exhaustive → identical result sets
        b = set(zip(brute["qid"], brute["vec_id"]))
        a = set(zip(ivf["qid"], ivf["vec_id"]))
        assert a == b

    def test_lsh_neardup_finds_planted_pair(self, emb):
        from dask_traj_spark.operators.similarity import (
            near_duplicates_embedding_lsh,
        )

        pdf = near_duplicates_embedding_lsh(emb, threshold=0.95).toPandas()
        assert (0, 1) in set(zip(pdf["id1"], pdf["id2"]))


class TestMultimodal:
    def test_payload_and_stats(self, docs):
        from dask_traj_spark.operators.multimodal import attach_payload, media_stats

        media = attach_payload(docs)
        stats = media_stats(media).toPandas()
        assert stats["n"].iloc[0] == 6
        assert stats["total_bytes"].iloc[0] == sum(
            len(t.encode()) for t in docs.toPandas()["text"]
        )

    def test_decode_stub_deterministic(self, docs):
        from dask_traj_spark.operators.multimodal import (
            attach_payload,
            decode_and_featurize,
        )

        media = attach_payload(docs)
        pdf = decode_and_featurize(media).toPandas().set_index("doc_id")
        assert pdf.loc[0, "width"] == len("the cat sat on the mat")
        # features = first 8 bytes / 255
        want = np.frombuffer(b"the cat ", dtype=np.uint8) / 255.0
        np.testing.assert_allclose(pdf.loc[0, "features"], want, rtol=1e-6)

    def test_strict_decode_raises_on_stub_kinds(self, docs):
        from dask_traj_spark.operators.multimodal import (
            attach_payload,
            decode_and_featurize,
        )

        # fake/utf8 has no real decoder — strict mode must refuse to
        # silently fall back to the stub (error surfaces at execution)
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PythonException

        with pytest.raises((PythonException, Py4JJavaError)):
            decode_and_featurize(attach_payload(docs), strict=True).collect()

    def test_bmp_roundtrip_and_padding(self):
        from dask_traj_spark.operators.multimodal import (
            decode_bmp,
            encode_bmp,
        )

        # odd width → 21-byte rows padded to 24; bottom-up storage
        px = bytes(range(42))
        data = encode_bmp(7, 2, px)
        assert data[:2] == b"BM" and len(data) == 54 + 48
        w, h, ch, out = decode_bmp(data)
        assert (w, h, ch) == (7, 2, 3)
        # decoder must flip rows back to top-down and strip padding
        np.testing.assert_array_equal(
            out, np.frombuffer(px, dtype=np.uint8)
        )
        # top-down (negative height) variant decodes identically
        neg = bytearray(data)
        import struct as _s

        _s.pack_into("<i", neg, 22, -2)
        body = data[54:]
        neg[54:] = body[24:48] + body[:24]  # rows in top-down order
        w2, h2, ch2, out2 = decode_bmp(bytes(neg))
        assert (w2, h2, ch2) == (7, 2, 3)
        np.testing.assert_array_equal(out2, out)

    def test_wav_roundtrip_with_extra_chunk(self):
        from dask_traj_spark.operators.multimodal import (
            decode_wav,
            encode_wav,
        )

        samples = np.array([0, 100, -100, 32767, -32768, 7], dtype=np.int16)
        data = encode_wav(samples, sample_rate=16000, n_channels=2)
        # splice a LIST chunk between fmt and data — the chunk walk
        # must skip it
        import struct as _s

        fmt_end = 12 + 8 + 16
        extra = b"LIST" + _s.pack("<I", 4) + b"INFO"
        data = data[:fmt_end] + extra + data[fmt_end:]
        frames, ch, rate, out = decode_wav(data)
        assert (frames, ch, rate) == (3, 2, 16000)
        np.testing.assert_array_equal(out, samples)

    def test_bmp_decode_through_spark_pipeline(self, docs):
        from dask_traj_spark.operators.multimodal import (
            BMP_HEIGHT,
            BMP_WIDTH,
            attach_payload_bmp,
            decode_and_featurize,
        )

        media = attach_payload_bmp(docs)
        pdf = (
            decode_and_featurize(media, strict=True)
            .toPandas()
            .set_index("doc_id")
        )
        assert (pdf["width"] == BMP_WIDTH).all()
        assert (pdf["height"] == BMP_HEIGHT).all()
        assert (pdf["channels"] == 3).all()
        # real decode: features = first 8 decoded pixel bytes = the
        # text's byte head
        want = np.frombuffer(b"the cat ", dtype=np.uint8) / np.float32(255.0)
        np.testing.assert_allclose(pdf.loc[0, "features"], want, rtol=1e-6)


class TestCuration:
    def test_decontaminate_flags_benchmark_overlap(self, spark, docs):
        from dask_traj_spark.operators.curation import decontaminate

        bench = docs.where(F.col("doc_id") == 0)
        pdf = decontaminate(docs, bench, n=3).toPandas().set_index("doc_id")
        # benchmark member: every trigram overlaps itself
        assert pdf.loc[0, "contamination"] == 1.0
        # exact dup of the benchmark doc: fully contaminated
        assert pdf.loc[1, "contamination"] == 1.0
        # shares the 5-token prefix "the cat sat on the" with doc 0
        # → 3 of its 5 trigrams overlap
        assert pdf.loc[2, "n_contaminated"] == 3
        # disjoint language: zero overlap
        assert pdf.loc[3, "contamination"] == 0.0
        assert pdf.loc[5, "contamination"] == 0.0
        # plan: the benchmark n-gram side must broadcast, not
        # sort-merge (it is the small side at any corpus scale)
        plan = (
            decontaminate(docs, bench, n=3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan

    def test_stratified_sample_quota_and_order_independence(self, spark, docs):
        from dask_traj_spark.operators.curation import stratified_sample

        for mode in ("xxhash", "mult"):
            got = (
                stratified_sample(docs, quota=1, order_mode=mode)
                .toPandas()
                .sort_values("source")
            )
            # one doc per source, rank 1
            assert list(got["source"]) == ["s0", "s1", "s2"]
            assert (got["rk"] == 1).all()
            # physical order must not matter
            again = (
                stratified_sample(
                    docs.repartition(7).sortWithinPartitions(
                        F.col("doc_id").desc()
                    ),
                    quota=1,
                    order_mode=mode,
                )
                .toPandas()
                .sort_values("source")
            )
            assert got["doc_id"].tolist() == again["doc_id"].tolist()

    def test_repeated_ngram_docs_flags_verbatim_copy(self, spark):
        from dask_traj_spark.operators.dedup import repeated_ngram_docs

        span = "one two three four five six seven eight"  # 8 tokens
        d = spark.createDataFrame(
            [
                (0, f"intro {span} tail words here"),
                (1, f"other prefix {span} ending"),
                (2, "completely unrelated sentence with many distinct tokens inside"),
            ],
            "doc_id long, text string",
        )
        pdf = repeated_ngram_docs(d, n=8).toPandas().set_index("doc_id")
        # both carriers of the verbatim span share exactly the one
        # full 8-gram; their other 8-grams are unique
        assert pdf.loc[0, "n_shared"] == 1
        assert pdf.loc[1, "n_shared"] == 1
        assert pdf.loc[2, "n_shared"] == 0
        assert pdf.loc[0, "n_grams"] == 5  # 12 tokens → 5 windows
        assert pdf.loc[2, "shared_frac"] == 0.0

    def test_repetition_score_closed_form(self, spark):
        from dask_traj_spark.operators.curation import repetition_score

        d = spark.createDataFrame(
            [(0, "a b a b a b"), (1, "all distinct words here"), (2, "solo")],
            "doc_id long, text string",
        )
        pdf = repetition_score(d).toPandas().set_index("doc_id")
        # bigrams: a_b b_a a_b b_a a_b → 5 total, 2 distinct
        assert pdf.loc[0, "total_bigrams"] == 5
        assert pdf.loc[0, "distinct_bigrams"] == 2
        assert pdf.loc[0, "repetition"] == 1.0 - 2.0 / 5.0
        assert pdf.loc[1, "repetition"] == 0.0
        # single-token doc: no bigrams, defined as 0.0
        assert pdf.loc[2, "total_bigrams"] == 0
        assert pdf.loc[2, "repetition"] == 0.0


class TestIVFIndex:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.default_rng(3)
        base = rng.standard_normal((20, 64)).astype(np.float32)
        base[1] = base[0] + 0.01 * rng.standard_normal(64).astype(np.float32)
        rows = [(int(i), [float(x) for x in base[i]], int(i % 3)) for i in range(20)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )

    @pytest.fixture(scope="class")
    def index_dir(self, spark, emb, tmp_path_factory):
        from dask_traj_spark.operators.similarity import ivf_build_index

        d = str(tmp_path_factory.mktemp("ivf") / "idx")
        ivf_build_index(emb, d, n_centroids=4)
        return d

    def test_probe_scan_is_partition_pruned(self, spark, index_dir):
        """The probed read must show cluster PartitionFilters — the
        scan never touches unprobed cluster directories."""
        from dask_traj_spark.operators.similarity import cosine_topk_ivf_indexed

        out = cosine_topk_ivf_indexed(spark, index_dir, [0], k=3, nprobe=1)
        plan = out._jdf.queryExecution().executedPlan().toString()
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "cluster" in m.group(1), plan

    def test_full_probe_matches_brute_force(self, spark, emb, index_dir):
        from dask_traj_spark.operators.similarity import (
            cosine_topk_ivf_indexed,
            cosine_topk_vectorized,
        )

        brute = cosine_topk_vectorized(emb, [0, 5], k=5).toPandas()
        idx = cosine_topk_ivf_indexed(
            spark, index_dir, [0, 5], k=5, nprobe=4
        ).toPandas()
        assert set(zip(brute["qid"], brute["vec_id"])) == set(
            zip(idx["qid"], idx["vec_id"])
        )

    def test_planted_neighbor_found_with_one_probe(self, spark, index_dir):
        from dask_traj_spark.operators.similarity import cosine_topk_ivf_indexed

        pdf = (
            cosine_topk_ivf_indexed(spark, index_dir, [0], k=3, nprobe=1)
            .toPandas()
            .sort_values("rank")
        )
        assert pdf["vec_id"].iloc[0] == 1  # near-dup shares the cluster
        assert pdf["cos"].iloc[0] > 0.99


def test_embedding_lsh_or_bands_raise_recall(spark):
    """OR-construction: pairs missed by the single signature are
    recovered by multi-band candidates, precision untouched (exact
    rerank); single-band results are a subset of multi-band."""
    import numpy as np

    from dask_traj_spark.operators.similarity import (
        near_duplicates_embedding_lsh,
    )

    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 64)).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # a near-duplicate of each: tiny perturbation -> cos ~ 0.999
        rows.append((1000 + i, [float(x) for x in v + 0.01 * rng.standard_normal(64).astype(np.float32)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    single = {
        (r.id1, r.id2)
        for r in near_duplicates_embedding_lsh(emb, threshold=0.99).collect()
    }
    multi = {
        (r.id1, r.id2)
        for r in near_duplicates_embedding_lsh(
            emb, threshold=0.99, n_bands=4
        ).collect()
    }
    true_pairs = {(i, 1000 + i) for i in range(40)}
    assert single <= multi
    assert len(multi & true_pairs) > len(single & true_pairs) or (
        single & true_pairs == true_pairs
    )
    # multi-band should recover (nearly) all true near-dups
    assert len(multi & true_pairs) >= 38


class TestPngCodec:
    def test_roundtrip_all_filters(self):
        from dask_traj_spark.operators.multimodal import decode_png, encode_png

        rng = np.random.default_rng(11)
        # heights >= 5 cycle through every scanline filter (0..4)
        for w, h, ch in [(5, 3, 3), (7, 6, 3), (4, 9, 1), (3, 7, 4), (1, 1, 3)]:
            px = rng.integers(0, 256, size=w * h * ch, dtype=np.uint8).tobytes()
            ww, hh, cc, out = decode_png(encode_png(w, h, px, ch))
            assert (ww, hh, cc) == (w, h, ch)
            assert out.tobytes() == px

    def test_golden_handbuilt_png(self):
        """Decode a PNG assembled by hand from the spec (not by our
        encoder): 2x2 grayscale, row 0 filter None, row 1 filter Up —
        pins inflate + Up reconstruction against an independent
        byte-level construction."""
        import struct
        import zlib

        from dask_traj_spark.operators.multimodal import decode_png

        # pixels: [[10, 20], [30, 255]]; Up filter stores x - up mod 256
        raw = bytes([0, 10, 20]) + bytes([2, (30 - 10) % 256, (255 - 20) % 256])
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        data = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        w, h, ch, px = decode_png(data)
        assert (w, h, ch) == (2, 2, 1)
        assert list(px) == [10, 20, 30, 255]

    def test_paeth_reference_vectors(self):
        """Paeth predictor reconstruction against hand-computed spec
        values: 1x3 RGB row with known left-pixel propagation."""
        import struct
        import zlib

        from dask_traj_spark.operators.multimodal import decode_png

        # 3 wide x 1 high RGB, filter 4 (Paeth). prev row = 0, so for
        # the first pixel pred=0; after that pred=left (b=c=0).
        pixels = [100, 50, 25, 110, 60, 20, 105, 65, 30]
        filt = [4]
        for i, v in enumerate(pixels):
            left = pixels[i - 3] if i >= 3 else 0
            filt.append((v - left) % 256)  # Paeth(a,0,0) == a
        ihdr = struct.pack(">IIBBBBB", 3, 1, 8, 2, 0, 0, 0)

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        data = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(filt)))
            + chunk(b"IEND", b"")
        )
        w, h, ch, px = decode_png(data)
        assert (w, h, ch) == (3, 1, 3)
        assert list(px) == pixels

    def test_png_through_spark_pipeline(self, docs):
        from dask_traj_spark.operators.multimodal import (
            PNG_HEIGHT,
            PNG_WIDTH,
            attach_payload_png,
            decode_and_featurize,
        )

        out = (
            decode_and_featurize(attach_payload_png(docs), strict=True)
            .toPandas()
            .set_index("doc_id")
            .sort_index()
        )
        assert (out["width"] == PNG_WIDTH).all()
        assert (out["height"] == PNG_HEIGHT).all()
        assert (out["channels"] == 3).all()
        # features = text byte head / 255
        feats = np.stack(out.loc[0, "features"])[None, :]
        expect = np.frombuffer(b"the cat ", dtype=np.uint8) / np.float32(255.0)
        np.testing.assert_allclose(feats[0], expect, rtol=1e-6)


class TestHeuristicFilter:
    def test_closed_form_flags(self, spark):
        from dask_traj_spark.operators.curation import heuristic_filter

        rows = [
            # 30 distinct-ish words, mean len 4 → passes everything
            (0, " ".join(f"word{i:02d}" for i in range(30))),
            # too short
            (1, "tiny doc here"),
            # heavy repetition: top share 10/30 > 0.15
            (2, " ".join(["spam"] * 10 + [f"w{i:02d}" for i in range(20)])),
            # gibberish: mean word length 20 > 6
            (3, " ".join(["x" * 20 for _ in range(30)])),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pdf = heuristic_filter(docs).toPandas().set_index("doc_id").sort_index()
        assert bool(pdf.loc[0, "keep"])
        assert not bool(pdf.loc[1, "len_ok"]) and not bool(pdf.loc[1, "keep"])
        assert bool(pdf.loc[2, "len_ok"]) and not bool(pdf.loc[2, "rep_ok"])
        assert not bool(pdf.loc[3, "wlen_ok"]) and not bool(pdf.loc[3, "keep"])
        assert pdf.loc[2, "n_words"] == 30
        np.testing.assert_allclose(pdf.loc[2, "top_share"], 10 / 30, atol=1e-6)


class TestSequencePacking:
    @pytest.fixture(scope="class")
    def pack_docs(self, spark):
        rng = np.random.default_rng(5)
        rows = [
            (int(i), " ".join("tok" for _ in range(int(rng.integers(1, 40)))))
            for i in range(200)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _reference(self, pdf, budget, seed=0):
        import pandas as pd

        # single-threaded reference: hash order, running cumsum
        pdf = pdf.copy()
        pdf["n_tokens"] = pdf["text"].str.split(" ").str.len()
        A, M = 2654435761, 2 ** 32
        pdf["ord"] = (pdf["doc_id"] * A) % M
        pdf = pdf.sort_values(["ord", "doc_id"]).reset_index(drop=True)
        cum = pdf["n_tokens"].cumsum().shift(fill_value=0)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "start_seq": cum // budget,
                "offset": cum % budget,
                "n_seqs": (cum + pdf["n_tokens"] - 1) // budget - cum // budget + 1,
            }
        ).set_index("doc_id").sort_index()

    def test_matches_single_threaded_reference(self, spark, pack_docs):
        from dask_traj_spark.operators.curation import pack_sequences

        got = (
            pack_sequences(pack_docs, budget=64, order_mode="mult")
            .toPandas()
            .set_index("doc_id")
            .sort_index()
        )
        ref = self._reference(pack_docs.toPandas(), 64)
        for col in ["n_tokens", "start_seq", "offset", "n_seqs"]:
            assert (got[col].to_numpy() == ref[col].to_numpy()).all(), col

    def test_physical_order_independence(self, spark, pack_docs):
        from dask_traj_spark.operators.curation import pack_sequences

        shuffled = pack_docs.orderBy(F.xxhash64("doc_id", F.lit(99))).repartition(7)
        a = (
            pack_sequences(pack_docs, budget=64, order_mode="mult")
            .toPandas().set_index("doc_id").sort_index()
        )
        b = (
            pack_sequences(shuffled, budget=64, order_mode="mult")
            .toPandas().set_index("doc_id").sort_index()
        )
        assert (a == b).all().all()

    def test_no_single_partition_exchange(self, spark, pack_docs):
        from dask_traj_spark.operators.curation import pack_sequences
        from dask_traj_spark.plans.audit import formatted_plan

        plan = formatted_plan(pack_sequences(pack_docs, budget=64, order_mode="mult"))
        assert "SinglePartition" not in plan


class TestSemanticDedup:
    def test_planted_duplicates_drop_higher_id(self, spark):
        from dask_traj_spark.operators.similarity import semantic_dedup

        rng = np.random.default_rng(17)
        base = rng.standard_normal((30, 64)).astype(np.float32)
        base[7] = base[3]  # exact dup: cosine 1.0, same sign cluster
        base[19] = base[3] * np.float32(2.0)  # scaled dup, same direction
        rows = [(int(i), [float(x) for x in base[i]], 0) for i in range(30)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        pdf = semantic_dedup(emb, threshold=0.95).toPandas().set_index("vec_id")
        assert len(pdf) == 30
        assert bool(pdf.loc[3, "keep"])  # smallest id survives
        assert not bool(pdf.loc[7, "keep"])
        assert not bool(pdf.loc[19, "keep"])
        # everything else untouched at this threshold
        assert int((~pdf["keep"]).sum()) == 2

    def test_cluster_cap_bounds_skewed_cluster(self, spark):
        """VERDICT r4: the per-cluster cap is MANDATORY skew
        insurance — a degenerate cluster above max_cluster skips the
        pairwise compare entirely (members keep=True, zero pairs)
        instead of emitting O(B**2) candidates."""
        from dask_traj_spark.operators.dedup import _cap_buckets
        from dask_traj_spark.operators.similarity import (
            semantic_dedup,
            signbit_clusters,
        )

        rng = np.random.default_rng(23)
        # 40 near-identical vectors (one degenerate cluster) + 10
        # scattered ones in other clusters
        hub = np.abs(rng.standard_normal(64)).astype(np.float32)  # all +
        rows = []
        for i in range(40):
            v = hub + rng.standard_normal(64).astype(np.float32) * 1e-3
            rows.append((int(i), [float(abs(x)) for x in v], 0))
        for i in range(40, 50):
            v = rng.standard_normal(64).astype(np.float32)
            v[0] = -abs(v[0])  # different sign cluster
            rows.append((int(i), [float(x) for x in v], 0))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        # without the cap the hub cluster would drop 39 of 40 members
        uncapped = semantic_dedup(
            emb, threshold=0.99, n_bits=4, max_cluster=None
        ).toPandas()
        assert int((~uncapped["keep"]).sum()) >= 39
        # with the cap the hub cluster (40 > 20) is excluded wholesale:
        # every member keeps, and the candidate join sees only the
        # small clusters
        capped = semantic_dedup(
            emb, threshold=0.99, n_bits=4, max_cluster=20
        ).toPandas().set_index("vec_id")
        assert all(capped.loc[i, "keep"] for i in range(40))
        # and the cap machinery itself bounds the pair source rows
        cl = signbit_clusters(emb, n_bits=4)
        kept_rows = _cap_buckets(cl, ["cluster"], 20).count()
        assert kept_rows <= 10  # only the scattered vectors survive

    def test_sql_and_vectorized_forms_bit_identical(self, spark):
        """The per-cluster numpy gram kernel and the pos-explode SQL
        join must agree BITWISE: both quantize to the 2^-12 grid,
        whose products/sums are exact in f64, so any divergence is a
        kernel bug (wrong triangle, missed quantization, norm order),
        not roundoff."""
        from dask_traj_spark.operators.similarity import semantic_dedup

        rng = np.random.default_rng(41)
        base = rng.standard_normal((120, 32)).astype(np.float32)
        # plant duplicate structure across several clusters
        for src, dst in [(3, 57), (3, 98), (11, 44), (70, 71)]:
            base[dst] = base[src] * np.float32(1.0 + 0.001 * dst)
        rows = [(int(i), [float(x) for x in base[i]]) for i in range(120)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        kw = dict(threshold=0.9, n_bits=3, max_cluster=50)
        a = (
            semantic_dedup(emb, form="sql", **kw)
            .toPandas().sort_values("vec_id").reset_index(drop=True)
        )
        b = (
            semantic_dedup(emb, form="vectorized", **kw)
            .toPandas().sort_values("vec_id").reset_index(drop=True)
        )
        assert (a == b).all().all()
        assert not bool(a["keep"].all())  # the planted dups did drop

    def test_auto_n_bits_scales_with_corpus(self, spark):
        """n_bits=None targets ~TARGET_CLUSTER_SIZE members per
        cluster: cluster count must GROW with the corpus instead of
        staying at a fixed fan-out (the VERDICT r4 scale-killer)."""
        from dask_traj_spark.operators.similarity import (
            TARGET_CLUSTER_SIZE,
            _auto_n_bits,
        )

        def fake(n):
            rng = np.random.default_rng(n)
            return spark.createDataFrame(
                [
                    (int(i), [float(x) for x in rng.standard_normal(16)])
                    for i in range(n)
                ],
                "vec_id long, embedding array<float>",
            )

        assert _auto_n_bits(fake(100), "vec_id") == 1  # <= target: 1 bit
        b1 = _auto_n_bits(fake(3000), "vec_id")
        b2 = _auto_n_bits(fake(12000), "vec_id")
        assert b2 == b1 + 2  # 4x corpus -> 4x clusters
        # 2^bits * TARGET covers the corpus with ~target-size clusters
        assert 2 ** b2 * TARGET_CLUSTER_SIZE >= 12000
        # clamped at the embedding dim
        assert _auto_n_bits(fake(3000), "vec_id") <= 16


class TestDupComponents:
    def test_chain_and_clique_components(self, spark):
        from dask_traj_spark.operators.dedup import dup_components

        # component A: chain 0-1-2-3-4 (diameter 4); B: clique {10,11,12};
        # C: singleton 20
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
            "id1 long, id2 long",
        )
        nodes = spark.createDataFrame(
            [(i,) for i in [0, 1, 2, 3, 4, 10, 11, 12, 20]], "doc_id long"
        )
        pdf = dup_components(pairs, nodes).toPandas().set_index("doc_id").sort_index()
        assert (pdf.loc[[0, 1, 2, 3, 4], "component"] == 0).all()
        assert (pdf.loc[[10, 11, 12], "component"] == 10).all()
        assert pdf.loc[20, "component"] == 20
        reps = pdf[pdf["is_representative"]].index.tolist()
        assert reps == [0, 10, 20]

    def test_long_chain_converges_fast(self, spark):
        """Pointer doubling: a 200-node chain must converge well
        under the plain-propagation bound (its diameter)."""
        from dask_traj_spark.operators.dedup import dup_components

        n = 200
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
        )
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        pdf = dup_components(pairs, nodes, max_iters=15).toPandas()
        assert (pdf["component"] == 0).all()


class TestTrajectoryAnalyses:
    def test_radius_of_gyration_matches_numpy(self, spark):
        from dask_traj_spark.operators.distance import compute_radius_of_gyration
        from dask_traj_spark.trajectory import Trajectory

        rng = np.random.default_rng(23)
        xyz = rng.uniform(0, 3, (4, 50, 3))
        masses = rng.uniform(1, 16, 50)
        rows = [
            (f, a, float(xyz[f, a, 0]), float(xyz[f, a, 1]), float(xyz[f, a, 2]))
            for f in range(4)
            for a in range(50)
        ]
        coords = spark.createDataFrame(
            rows, "frame_id long, atom_id int, x double, y double, z double"
        )
        top = spark.createDataFrame(
            [(a, float(masses[a])) for a in range(50)], "atom_id int, mass double"
        )
        traj = Trajectory(coords)
        got = (
            compute_radius_of_gyration(traj, topology=top)
            .toPandas().set_index("frame_id").sort_index()["rg"].to_numpy()
        )
        com = (xyz * masses[None, :, None]).sum(1) / masses.sum()
        d2 = ((xyz - com[:, None, :]) ** 2).sum(-1)
        want = np.sqrt((d2 * masses[None, :]).sum(1) / masses.sum())
        np.testing.assert_allclose(got, want, rtol=1e-9)

    def test_rdf_histogram_counts_conserved(self, spark):
        from dask_traj_spark.operators.distance import rdf_histogram
        from dask_traj_spark.trajectory import Trajectory

        rng = np.random.default_rng(29)
        rows = [
            (f, a, *[float(v) for v in rng.uniform(0, 1, 3)])
            for f in range(3)
            for a in range(10)
        ]
        coords = spark.createDataFrame(
            rows, "frame_id long, atom_id int, x double, y double, z double"
        )
        traj = Trajectory(coords)
        import itertools

        pairs = list(itertools.combinations(range(10), 2))
        pdf = rdf_histogram(traj, pairs, bin_width=0.125, n_atoms=10).toPandas()
        assert pdf["n_pairs"].sum() == 3 * len(pairs)  # every distance lands in a bin
        assert (pdf["r_lo"] == pdf["bin"] * 0.125).all()
        assert (pdf["bin"] >= 0).all() and (pdf["bin"] <= 14).all()  # max dist < sqrt(3)


class TestNeighborPairs:
    def test_matches_brute_force(self, spark):
        from dask_traj_spark.operators.distance import (
            compute_distances,
            neighbor_pairs,
        )
        from dask_traj_spark.trajectory import Trajectory

        rng = np.random.default_rng(31)
        n = 40
        rows = [
            (f, a, *[float(v) for v in rng.uniform(0, 1.0, 3)])
            for f in range(3)
            for a in range(n)
        ]
        coords = spark.createDataFrame(
            rows, "frame_id long, atom_id int, x float, y float, z float"
        )
        traj = Trajectory(coords)
        cutoff = 0.25
        got = neighbor_pairs(traj, cutoff).toPandas()
        import itertools

        pairs = list(itertools.combinations(range(n), 2))
        brute = compute_distances(
            traj, pairs, periodic=False, form="sql", n_atoms=n
        ).toPandas()
        brute = brute[brute["dist"] <= np.float32(cutoff)]
        lut = {p: k for k, p in enumerate(pairs)}
        got_set = {
            (int(r.frame_id), lut[(int(r.i), int(r.j))]) for r in got.itertuples()
        }
        brute_set = {
            (int(r.frame_id), int(r.pair_id)) for r in brute.itertuples()
        }
        assert got_set == brute_set
        assert len(got) > 0  # non-degenerate at this density

    def test_no_duplicate_candidates(self, spark):
        """Each in-range pair must appear exactly once (the offset
        join matches a pair only at the unique cell delta)."""
        from dask_traj_spark.operators.distance import neighbor_pairs
        from dask_traj_spark.trajectory import Trajectory

        rng = np.random.default_rng(37)
        rows = [
            (0, a, *[float(v) for v in rng.uniform(0, 0.5, 3)]) for a in range(30)
        ]
        coords = spark.createDataFrame(
            rows, "frame_id long, atom_id int, x float, y float, z float"
        )
        out = neighbor_pairs(Trajectory(coords), 0.3).toPandas()
        assert not out.duplicated(["frame_id", "i", "j"]).any()

    def test_plan_is_equijoin_no_cartesian(self, spark):
        from dask_traj_spark.operators.distance import neighbor_pairs
        from dask_traj_spark.plans.audit import formatted_plan
        from dask_traj_spark.trajectory import Trajectory

        rows = [(0, a, 0.1 * a, 0.0, 0.0) for a in range(10)]
        coords = spark.createDataFrame(
            rows, "frame_id long, atom_id int, x double, y double, z double"
        )
        plan = formatted_plan(neighbor_pairs(Trajectory(coords), 0.25))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestCharBigramLogprob:
    def test_matches_reference_model(self, spark):
        from collections import Counter

        from dask_traj_spark.functions.text import LP_GRID, char_bigram_logprob

        rows = [(0, "abab"), (1, "abba"), (2, "zz")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = (
            char_bigram_logprob(docs).toPandas().set_index("doc_id").sort_index()
        )
        # reference model over the 3-doc corpus
        bgs = [t[i : i + 2] for _, t in rows for i in range(len(t) - 1)]
        nb = Counter(bgs)
        nc = Counter(b[0] for b in bgs for _ in range(1))
        nc = Counter()
        for b, n in nb.items():
            nc[b[0]] += n
        lp = {
            b: round(np.log(n / nc[b[0]]) * LP_GRID) / LP_GRID
            for b, n in nb.items()
        }
        for doc_id, t in rows:
            doc_bgs = [t[i : i + 2] for i in range(len(t) - 1)]
            want = round(sum(lp[b] for b in doc_bgs) / len(doc_bgs), 6)
            assert got.loc[doc_id, "n_bigrams"] == len(doc_bgs)
            np.testing.assert_allclose(got.loc[doc_id, "avg_logprob"], want, atol=1e-9)

    def test_gibberish_scores_below_fluent(self, spark):
        """The filter's purpose: in-distribution text scores higher
        than text made of rare transitions."""
        from dask_traj_spark.functions.text import char_bigram_logprob

        fluent = "the cat sat on the mat and the dog sat on the rug " * 4
        rare = "xq zv qx vz jq qj xz zx " * 4
        docs = spark.createDataFrame(
            [(0, fluent + rare[:8]), (1, rare + fluent[:8])],
            "doc_id long, text string",
        )
        pdf = char_bigram_logprob(docs).toPandas().set_index("doc_id")
        assert pdf.loc[0, "avg_logprob"] > pdf.loc[1, "avg_logprob"]


class TestMSD:
    def test_linear_drift_quadratic_in_lag(self, spark):
        """Constant-velocity drift: MSD(τ) = |v|²·τ² exactly."""
        from dask_traj_spark.operators.distance import mean_squared_displacement
        from dask_traj_spark.trajectory import Trajectory

        v = np.array([0.5, -0.25, 0.125])
        rows = [
            (f, a, float(a + v[0] * f), float(v[1] * f), float(v[2] * f))
            for f in range(10)
            for a in range(5)
        ]
        coords = spark.createDataFrame(
            rows, "frame_id long, atom_id int, x double, y double, z double"
        )
        pdf = (
            mean_squared_displacement(Trajectory(coords), max_lag=4)
            .toPandas().set_index("lag").sort_index()
        )
        v2 = float((v ** 2).sum())
        for lag in range(1, 5):
            np.testing.assert_allclose(pdf.loc[lag, "msd"], v2 * lag * lag, rtol=1e-12)
            assert pdf.loc[lag, "n_samples"] == 5 * (10 - lag)


class TestAviWav:
    def test_avi_roundtrip_and_padding(self):
        from dask_traj_spark.operators.multimodal import decode_avi, encode_avi

        rng = np.random.default_rng(43)
        # odd width -> real stride padding inside each DIB frame
        frames = [
            rng.integers(0, 256, size=5 * 3 * 2, dtype=np.uint8).tobytes()
            for _ in range(4)
        ]
        w, h, n, out = decode_avi(encode_avi(5, 2, frames))
        assert (w, h, n) == (5, 2, 4)
        for a, b in zip(frames, out):
            assert a == b.tobytes()

    def test_avi_frames_through_spark(self, docs):
        from dask_traj_spark.operators.multimodal import (
            attach_payload_avi,
            decode_avi_frames,
        )

        pdf = (
            decode_avi_frames(attach_payload_avi(docs))
            .toPandas()
            .sort_values(["doc_id", "frame_idx"])
        )
        assert (pdf.groupby("doc_id").size() == 3).all()
        f0 = pdf[(pdf["doc_id"] == 0) & (pdf["frame_idx"] == 0)]["frame_bytes"].iloc[0]
        assert bytes(f0)[:22] == b"the cat sat on the mat"

    def test_wav_payload_samples_match_bytes(self, docs):
        from dask_traj_spark.operators.multimodal import (
            attach_payload_wav,
            decode_wav,
        )

        media = attach_payload_wav(docs).toPandas().set_index("doc_id")
        frames, ch, rate, samples = decode_wav(bytes(media.loc[0, "payload"]))
        assert (frames, ch) == (32, 1)
        text = b"the cat sat on the mat"
        want = [(b - 128) * 256 for b in text] + [0] * (32 - len(text))
        assert list(samples) == want


class TestProductQuantization:
    def test_encode_deterministic_and_planted_neighbor_found(self, spark):
        from dask_traj_spark.operators.similarity import (
            pq_encode,
            pq_topk,
            pq_train,
        )

        rng = np.random.default_rng(7)
        base = rng.standard_normal((40, 64)).astype(np.float32)
        base[1] = base[0] + 0.01 * rng.standard_normal(64).astype(np.float32)
        rows = [(int(i), [float(x) for x in base[i]], 0) for i in range(40)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        books = pq_train(emb, m=8, k=8)
        a = pq_encode(emb, books).toPandas().set_index("vec_id").sort_index()
        b = pq_encode(emb, books).toPandas().set_index("vec_id").sort_index()
        assert all(list(x) == list(y) for x, y in zip(a["codes"], b["codes"]))
        # exact duplicate directions share every subspace code
        assert list(a.loc[0, "codes"]) == list(a.loc[1, "codes"])
        top = pq_topk(emb, [0], k=3, m=8, n_codes=8).toPandas()
        assert 1 in set(top["vec_id"])  # planted near-dup in top-3 by ADC


class TestSourceTokenMixture:
    def test_budget_boundary_and_order_independence(self, spark):
        from dask_traj_spark.operators.curation import source_token_mixture

        rows = [
            (i, " ".join("t" for _ in range(10)), "a") for i in range(6)
        ] + [
            (10 + i, " ".join("t" for _ in range(50)), "b") for i in range(3)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = (
            source_token_mixture(docs, token_budget=25, order_mode="mult")
            .toPandas().sort_values("doc_id")
        )
        # source a: 10-token docs — kept while tok_before < 25 → 3 docs
        # (0, 10, 20 all < 25; the third crosses the budget but starts
        # inside it); source b: 50-token docs — only the first
        assert out.groupby("source").size().to_dict() == {"a": 3, "b": 1}
        assert out[out["source"] == "a"]["n_tokens"].sum() == 30
        shuffled = docs.orderBy(F.xxhash64("doc_id", F.lit(5))).repartition(5)
        out2 = (
            source_token_mixture(shuffled, token_budget=25, order_mode="mult")
            .toPandas().sort_values("doc_id")
        )
        assert list(out["doc_id"]) == list(out2["doc_id"])


class TestPIIScrub:
    def test_counts_and_redaction(self, spark):
        from dask_traj_spark.functions.text import pii_stats

        rows = [
            (1, "mail me at a.b+c@sub.example.com or x_1%y@ex.co thanks"),
            (2, "docs at https://ex.org/a/b_c-d and http://ex.io/x then text"),
            (3, "call 555-123-4567 and 999-000-1234 now"),
            (4, "clean text with no personal data at all"),
            (5, "mixed bob@ex.com https://e.org/p 111-222-3333"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in pii_stats(df).collect()}
        assert (out[1]["n_emails"], out[1]["n_urls"], out[1]["n_phones"]) == (2, 0, 0)
        assert (out[2]["n_emails"], out[2]["n_urls"], out[2]["n_phones"]) == (0, 2, 0)
        assert (out[3]["n_emails"], out[3]["n_urls"], out[3]["n_phones"]) == (0, 0, 2)
        assert out[4]["pii_flag"] == 0 and out[4]["redacted_len"] == len(rows[3][1])
        assert out[5]["pii_flag"] == 1
        # redaction replaces the full span with the fixed tokens
        assert out[5]["redacted_len"] == len("mixed <EMAIL> <URL> <PHONE>")


class TestKMeans:
    def test_recovers_planted_clusters_and_deterministic(self, spark):
        import numpy as np

        from dask_traj_spark.operators.similarity import kmeans_cluster

        rng = np.random.default_rng(7)
        dirs = np.eye(3, 16, dtype=np.float32)  # 3 orthogonal planted axes
        rows = []
        for i in range(90):
            base = dirs[i % 3]
            v = base + rng.normal(0, 0.05, 16).astype(np.float32)
            rows.append((i, [float(x) for x in v]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = kmeans_cluster(df, k=3, iters=8).collect()
        by_truth = {}
        for r in out:
            by_truth.setdefault(r["vec_id"] % 3, []).append(r["cluster"])
        # every planted group maps to exactly one k-means cluster, and
        # the three groups map to three distinct clusters
        labels = set()
        for g, cl in by_truth.items():
            assert len(set(cl)) == 1, f"group {g} split across clusters"
            labels.add(cl[0])
        assert len(labels) == 3
        # seeded: a second run reproduces the assignment exactly
        again = kmeans_cluster(df, k=3, iters=8).collect()
        assert sorted((r["vec_id"], r["cluster"]) for r in out) == sorted(
            (r["vec_id"], r["cluster"]) for r in again
        )


class TestResize:
    def test_nearest_neighbor_identity_and_downscale(self, spark):
        import numpy as np

        from dask_traj_spark.operators.multimodal import (
            encode_bmp,
            resize_images,
        )

        # 4x2 image with distinct bytes 0..23 (top-down row-major)
        px = bytes(range(24))
        payload = encode_bmp(4, 2, px)
        df = spark.createDataFrame(
            [(1, "image/bmp", bytearray(payload), len(payload))],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        # identity resize returns the source pixels exactly
        same = resize_images(df, 4, 2).collect()[0]
        assert same["pixels"] == list(range(24))
        # 2x1: xs = [0, 2], ys = [0] -> pixels (0,0) and (2,0)
        small = resize_images(df, 2, 1).collect()[0]
        assert (small["width"], small["height"], small["channels"]) == (2, 1, 3)
        assert small["pixels"] == [0, 1, 2, 6, 7, 8]
        # upscale 8x2: each source column repeated twice
        big = resize_images(df, 8, 2).collect()[0]
        expect = []
        for y in range(2):
            for x in range(8):
                sx = (x * 4) // 8
                expect += list(px[y * 12 + sx * 3: y * 12 + sx * 3 + 3])
        assert big["pixels"] == expect

    def test_resize_rejects_undecodable_kind(self, spark):
        import pytest as _pytest

        from dask_traj_spark.operators.multimodal import resize_images

        # image/jpeg gained a real decoder in r5 — the reject probe
        # moves to a kind that genuinely has none
        df = spark.createDataFrame(
            [(1, "video/mp4", bytearray(b"\x00\x00"), 2)],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        with _pytest.raises(Exception, match="no real decoder"):
            resize_images(df, 2, 2).collect()


class TestLexicalDiversity:
    def test_known_counts(self, spark):
        from dask_traj_spark.functions.text import lexical_diversity

        df = spark.createDataFrame(
            [
                (1, "a b a c a b"),          # 6 tokens, 3 types, 1 hapax (c)
                (2, "x y z"),                # all hapax
                (3, "w w w w"),              # one type, zero hapax
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in lexical_diversity(df).collect()}
        assert (out[1]["n_tokens"], out[1]["n_types"], out[1]["n_hapax"]) == (6, 3, 1)
        assert out[1]["ttr"] == 3 / 6 and out[1]["hapax_ratio"] == 1 / 6
        assert (out[2]["n_types"], out[2]["n_hapax"]) == (3, 3)
        assert (out[3]["n_types"], out[3]["n_hapax"]) == (1, 0)


class TestAudioWindows:
    def test_energy_zero_crossings_peak(self, spark):
        import numpy as np

        from dask_traj_spark.operators.multimodal import (
            audio_window_features,
            encode_wav,
        )

        # 16 samples: window 0 is an alternating square wave (7
        # crossings), window 1 is silence then a single negative spike
        s = np.array([100, -100] * 4 + [0] * 5 + [-300, 0, 0], dtype=np.int16)
        payload = encode_wav(s)
        df = spark.createDataFrame(
            [(1, "audio/wav", bytearray(payload), len(payload))],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        out = {r["window_idx"]: r for r in audio_window_features(df, window=8).collect()}
        assert out[0]["energy"] == 8 * 100 * 100
        assert out[0]["zero_crossings"] == 7
        assert out[0]["peak"] == 100
        assert out[1]["energy"] == 300 * 300
        # crossings: 0(+),0,0,0,0,-300,0,0 -> into spike and back = 2
        assert out[1]["zero_crossings"] == 2
        assert out[1]["peak"] == 300

    def test_rejects_non_wav(self, spark):
        import pytest as _pytest

        from dask_traj_spark.operators.multimodal import audio_window_features

        df = spark.createDataFrame(
            [(1, "audio/mp3", bytearray(b"ID3"), 3)],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        with _pytest.raises(Exception, match="PCM WAV"):
            audio_window_features(df).collect()


class TestFrameDiffs:
    def test_known_motion_energy(self, spark):
        from dask_traj_spark.operators.multimodal import encode_avi, frame_diffs

        # 2x1 RGB frames: static, then +10 on every channel, then one
        # channel jumps by 200
        f0 = bytes([10, 20, 30, 40, 50, 60])
        f1 = bytes([20, 30, 40, 50, 60, 70])
        f2 = bytes([20, 30, 240, 50, 60, 70])
        payload = encode_avi(2, 1, [f0, f1, f2])
        df = spark.createDataFrame(
            [(7, "video/avi", bytearray(payload), len(payload))],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        out = {r["frame_idx"]: r for r in frame_diffs(df).collect()}
        assert out[1]["diff_sum"] == 60 and out[1]["max_px_diff"] == 10
        assert out[2]["diff_sum"] == 200 and out[2]["max_px_diff"] == 200

    def test_rejects_non_avi(self, spark):
        import pytest as _pytest

        from dask_traj_spark.operators.multimodal import frame_diffs

        df = spark.createDataFrame(
            [(1, "video/mp4", bytearray(b"\x00"), 1)],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        with _pytest.raises(Exception, match="uncompressed AVI"):
            frame_diffs(df).collect()


class TestDatasetSplit:
    def test_partition_determinism_and_fractions(self, spark):
        from dask_traj_spark.operators.curation import dataset_split

        docs = spark.createDataFrame(
            [(i, f"doc {i}", "web") for i in range(1000)],
            "doc_id long, text string, source string",
        )
        out = dataset_split(docs).collect()
        assert len(out) == 1000  # every doc assigned exactly once
        counts = {}
        for r in out:
            counts[r["split"]] = counts.get(r["split"], 0) + 1
        # hash buckets approximate 80/10/10
        assert 700 < counts["train"] < 900
        assert 50 < counts["val"] < 150
        assert 50 < counts["test"] < 150
        # same doc -> same split on a re-run and after repartition
        again = {
            r["doc_id"]: r["split"]
            for r in dataset_split(docs.repartition(7)).collect()
        }
        assert all(again[r["doc_id"]] == r["split"] for r in out)


class TestTiffCodec:
    def test_roundtrip_and_resize_dispatch(self, spark):
        from dask_traj_spark.operators.multimodal import (
            decode_tiff,
            encode_tiff,
            resize_images,
        )

        px = bytes(range(36))
        w, h, ch, got = decode_tiff(encode_tiff(6, 2, px))
        assert (w, h, ch) == (6, 2, 3) and bytes(got) == px
        # short input zero-pads
        _, _, _, padded = decode_tiff(encode_tiff(6, 2, b"\x07"))
        assert padded[0] == 7 and not padded[1:].any()
        # resize dispatches on image/tiff
        payload = encode_tiff(4, 2, bytes(range(24)))
        df = spark.createDataFrame(
            [(1, "image/tiff", bytearray(payload), len(payload))],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        out = resize_images(df, 4, 2).collect()[0]
        assert out["pixels"] == list(range(24))

    def test_rejects_compressed_or_bad_header(self):
        import struct as _s

        import pytest as _pytest

        from dask_traj_spark.operators.multimodal import decode_tiff, encode_tiff

        with _pytest.raises(ValueError, match="not a little-endian TIFF"):
            decode_tiff(b"MM\x00\x2a" + b"\x00" * 16)
        data = bytearray(encode_tiff(2, 2, bytes(12)))
        # patch the compression tag (259) value to 5 (LZW)
        (ifd_off,) = _s.unpack_from("<I", data, 4)
        (n_tags,) = _s.unpack_from("<H", data, ifd_off)
        for i in range(n_tags):
            tag, = _s.unpack_from("<H", data, ifd_off + 2 + 12 * i)
            if tag == 259:
                _s.pack_into("<I", data, ifd_off + 2 + 12 * i + 8, 5)
        with _pytest.raises(ValueError, match="unsupported TIFF compression"):
            decode_tiff(bytes(data))


class TestBigramCrossScore:
    def test_oov_floor_and_in_domain_ordering(self, spark):
        from dask_traj_spark.functions.text import char_bigram_crossscore

        rows = [
            (1, "abab ababab abab", "train"),
            (2, "ab abab ba", "train"),
            (3, "abab ab", "other"),        # in-domain bigrams
            (4, "xyzzy qqq", "other"),      # fully out-of-domain
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {r["doc_id"]: r for r in
               char_bigram_crossscore(df, train_source="train").collect()}
        # disjoint alphabet -> every bigram floored
        assert out[4]["n_oov"] == out[4]["n_bigrams"]
        assert out[4]["avg_logprob"] == -20.0
        # in-domain doc has no OOV and scores far above the floor
        assert out[3]["n_oov"] == 0
        assert out[3]["avg_logprob"] > out[4]["avg_logprob"] + 10


class TestIvfPq:
    def test_planted_neighbor_found_and_ladder_prunes(self, spark):
        """IVFPQ composition: a planted near-duplicate must surface
        as rank 1 with cos ~ 1 even though scoring touches only
        compressed codes in probed clusters; rank output is exact
        cosine (rerank), deterministic tie-break."""
        from dask_traj_spark.operators.similarity import cosine_topk_ivf_pq

        rng = np.random.default_rng(29)
        base = rng.standard_normal((200, 64)).astype(np.float32)
        base[150] = base[0] * np.float32(1.5)  # same direction as query 0
        rows = [(int(i), [float(x) for x in base[i]]) for i in range(200)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = cosine_topk_ivf_pq(
            emb, [0], k=5, n_centroids=4, nprobe=2, m=8, n_codes=16,
            rerank_depth=50,
        ).toPandas()
        assert len(out) == 5
        top = out[out["rank"] == 1].iloc[0]
        assert top["vec_id"] == 150
        assert top["cos"] > 0.999


class TestPca:
    def test_planted_dominant_motion_recovered(self, spark):
        """A trajectory whose only large motion is along a known
        direction: PC1 must align with it, eigenvalues must match
        numpy's full-batch PCA, and projections must reproduce the
        planted amplitudes."""
        import numpy as np

        from dask_traj_spark.operators.pca import pca_fit, pca_project
        from dask_traj_spark.trajectory import Trajectory

        rng = np.random.default_rng(71)
        nf, na = 40, 6
        dim = 3 * na
        base = rng.uniform(0, 2, (na, 3))
        direction = np.zeros(dim)
        direction[0] = 3.0 / 5.0  # atom 0 x
        direction[4] = 4.0 / 5.0  # atom 1 y  (unit vector)
        amps = np.sin(np.linspace(0, 6, nf)) * 0.5
        noise = rng.standard_normal((nf, dim)) * 1e-3
        frames = base.reshape(-1)[None, :] + amps[:, None] * direction[None, :] + noise
        rows = [
            (f, a, float(frames[f, 3 * a]), float(frames[f, 3 * a + 1]),
             float(frames[f, 3 * a + 2]))
            for f in range(nf) for a in range(na)
        ]
        traj = Trajectory(spark.createDataFrame(
            rows, "frame_id long, atom_id int, x double, y double, z double"
        ))
        mean, comps, eigvals, n = pca_fit(traj, list(range(na)), k=2)
        assert n == nf
        # PC1 aligned with the planted direction (sign-fixed)
        assert abs(abs(comps[0] @ direction) - 1.0) < 1e-3
        # eigvals match a full-batch numpy reference (f32 input path)
        x = frames.astype(np.float32).astype(np.float64)
        c = np.cov(x.T, bias=True)
        w = np.sort(np.linalg.eigvalsh(c))[::-1][:2]
        np.testing.assert_allclose(eigvals, w, rtol=1e-6, atol=1e-12)
        # projections reproduce the planted amplitudes (centered)
        proj = {
            r["frame_id"]: r["pc"][0]
            for r in pca_project(traj, list(range(na)), mean, comps).collect()
        }
        got = np.array([proj[f] for f in range(nf)])
        want = amps - amps.mean()
        sign = np.sign(got @ want) or 1.0
        np.testing.assert_allclose(sign * got, want, atol=5e-3)

    def test_partitioning_invariance(self, spark):
        """The sufficient-statistics fit is independent of physical
        partitioning (partials merge associatively)."""
        import numpy as np

        from dask_traj_spark.operators.pca import pca_fit
        from dask_traj_spark.trajectory import Trajectory

        rng = np.random.default_rng(73)
        rows = [
            (f, a, *[float(v) for v in rng.uniform(0, 1, 3)])
            for f in range(20) for a in range(4)
        ]
        df = spark.createDataFrame(
            rows, "frame_id long, atom_id int, x double, y double, z double"
        )
        m1, c1, w1, _ = pca_fit(Trajectory(df), range(4), k=2)
        m2, c2, w2, _ = pca_fit(Trajectory(df.repartition(7)), range(4), k=2)
        np.testing.assert_allclose(m1, m2, atol=1e-12)
        np.testing.assert_allclose(w1, w2, atol=1e-12)
        np.testing.assert_allclose(c1, c2, atol=1e-9)


class TestTransitionCounts:
    def test_known_chain(self, spark):
        """Deterministic 3-state cycle: every lag-1 transition known
        in advance; total count = n_frames - lag; diagonal = 0 for a
        strict cycle and = total for a constant series."""
        from dask_traj_spark.operators.distance import transition_counts

        # states 0,1,2,0,1,2,... with bin width 1.0 over values 0/1/2
        df = spark.createDataFrame(
            [(t, float(t % 3)) for t in range(12)], "frame_id long, v double"
        )
        got = {
            (r["from_state"], r["to_state"]): r["n"]
            for r in transition_counts(df, "v", 1.0, lag=1).collect()
        }
        assert got == {(0, 1): 4, (1, 2): 4, (2, 0): 3}
        # constant series: everything on the diagonal
        cd = spark.createDataFrame(
            [(t, 0.25) for t in range(8)], "frame_id long, v double"
        )
        got2 = transition_counts(cd, "v", 0.5, lag=3).collect()
        assert len(got2) == 1 and got2[0]["n"] == 5
        assert got2[0]["from_state"] == got2[0]["to_state"] == 0


class TestTica:
    def test_slow_mode_beats_high_variance_noise(self, spark):
        """The classic tICA demo: a SLOW low-variance mode vs fast
        high-variance noise.  PCA1 picks the big-variance noise;
        tICA1 must pick the slow direction — the kinetics-aware
        discrimination that motivates the operator."""
        import numpy as np

        from dask_traj_spark.operators.pca import pca_fit, tica_fit
        from dask_traj_spark.trajectory import Trajectory

        rng = np.random.default_rng(79)
        nf, na = 400, 4
        dim = 3 * na
        slow_dir = np.zeros(dim); slow_dir[0] = 1.0    # atom0 x: slow
        fast_dir = np.zeros(dim); fast_dir[4] = 1.0    # atom1 y: fast
        # AR(1) with phi=0.97 (slow), small amplitude
        slow = np.zeros(nf)
        for t in range(1, nf):
            slow[t] = 0.97 * slow[t - 1] + rng.standard_normal() * 0.05
        fast = rng.standard_normal(nf) * 2.0  # iid, large variance
        base = rng.uniform(0, 2, dim)
        x = (base[None, :] + slow[:, None] * slow_dir[None, :]
             + fast[:, None] * fast_dir[None, :]
             + rng.standard_normal((nf, dim)) * 1e-3)
        rows = [
            (f, a, float(x[f, 3 * a]), float(x[f, 3 * a + 1]),
             float(x[f, 3 * a + 2]))
            for f in range(nf) for a in range(na)
        ]
        traj = Trajectory(spark.createDataFrame(
            rows, "frame_id long, atom_id int, x double, y double, z double"
        ))
        _, pcomps, _, _ = pca_fit(traj, range(na), k=1)
        assert abs(pcomps[0] @ fast_dir) > 0.99  # PCA finds variance
        mu, tcomps, lam, n = tica_fit(traj, range(na), lag=5, k=1)
        assert n == nf - 5
        # the component WEIGHTS live in whitened space (each direction
        # scaled by 1/sigma, so near-null noise dims dominate the raw
        # vector) — the meaningful check is the extracted SIGNAL: the
        # tIC-1 projection must be the slow series, not the fast one
        y = ((x - mu) @ tcomps[0])
        corr_slow = abs(np.corrcoef(y, slow)[0, 1])
        corr_fast = abs(np.corrcoef(y, fast)[0, 1])
        assert corr_slow > 0.95 and corr_fast < 0.2
        assert 0.5 < lam[0] <= 1.0 + 1e-9  # slow autocorrelation at lag 5

    def test_partitioning_invariance(self, spark):
        import numpy as np

        from dask_traj_spark.operators.pca import tica_fit
        from dask_traj_spark.trajectory import Trajectory

        rng = np.random.default_rng(83)
        rows = [
            (f, a, *[float(v) for v in rng.uniform(0, 1, 3)])
            for f in range(30) for a in range(3)
        ]
        df = spark.createDataFrame(
            rows, "frame_id long, atom_id int, x double, y double, z double"
        )
        m1, c1, w1, n1 = tica_fit(Trajectory(df), range(3), lag=2, k=2)
        m2, c2, w2, n2 = tica_fit(
            Trajectory(df.repartition(5)), range(3), lag=2, k=2
        )
        assert n1 == n2 == 28
        np.testing.assert_allclose(m1, m2, atol=1e-12)
        np.testing.assert_allclose(w1, w2, atol=1e-10)
        np.testing.assert_allclose(c1, c2, atol=1e-8)


class TestSasaExposure:
    def test_closed_forms(self, spark):
        from dask_traj_spark.operators.distance import sasa_exposure
        from dask_traj_spark.trajectory import Trajectory

        R = 0.03125
        rows = [
            # frame 0: one isolated atom -> fully exposed
            (0, 0, 0.0, 0.0, 0.0),
            (0, 1, 10.0, 10.0, 10.0),  # far away, also isolated
            # frame 1: two atoms touching (distance R) -> symmetric
            # partial occlusion
            (1, 0, 0.0, 0.0, 0.0),
            (1, 1, R, 0.0, 0.0),
            # frame 2: atom 0 caged by 6 face neighbors at R/2 -> the
            # cage occludes every sphere point
            (2, 0, 0.0, 0.0, 0.0),
            *[
                (2, k + 1, float(dx) * R / 2, float(dy) * R / 2,
                 float(dz) * R / 2)
                for k, (dx, dy, dz) in enumerate(
                    [(1, 0, 0), (-1, 0, 0), (0, 1, 0), (0, -1, 0),
                     (0, 0, 1), (0, 0, -1)]
                )
            ],
        ]
        traj = Trajectory(spark.createDataFrame(
            rows, "frame_id long, atom_id int, x double, y double, z double"
        ))
        out = {
            (r["frame_id"], r["atom_id"]): r
            for r in sasa_exposure(traj, radius=R, n_points=32).collect()
        }
        assert out[(0, 0)]["n_exposed"] == 32
        assert out[(0, 1)]["n_exposed"] == 32
        # touching pair: some points occluded on each side; the fixed
        # spiral point set is not mirror-symmetric, so the two counts
        # may differ by a point or two (standard Shrake-Rupley
        # behavior), but both lose roughly the same cap
        e0, e1 = out[(1, 0)]["n_exposed"], out[(1, 1)]["n_exposed"]
        assert 0 < e0 < 32 and 0 < e1 < 32 and abs(e0 - e1) <= 2
        # caged atom: every point strictly within R of a cage center
        assert out[(2, 0)]["n_exposed"] == 0


class TestSimhashHamming:
    def test_pigeonhole_complete_vs_brute_force(self, spark):
        """The block-agreement candidate rule must be COMPLETE for
        Hamming <= k (pigeonhole): compare against the brute-force
        all-pairs verify on a small corpus."""
        from dask_traj_spark.operators.dedup import simhash, simhash_neardup_pairs

        rows = [(i, f"tok{i} tok{i+1} tok{i+2} shared common words") for i in range(30)]
        rows.append((100, rows[3][1]))  # identical twin of doc 3
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["doc1"], r["doc2"]): r["hamming"]
            for r in simhash_neardup_pairs(
                docs, k=3, id_mode="sorted", max_bucket=None
            ).collect()
        }
        sigs = {r["doc_id"]: r["sh"]
                for r in simhash(docs, id_mode="sorted").collect()}
        ids = sorted(sigs)
        want = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= 3:
                    want[(a, b)] = h
        assert got == want  # complete AND exact hamming values
        assert got[(3, 100)] == 0  # the identical twin


class TestCountMin:
    def test_sketch_bounds_and_merge(self, spark):
        """CMS never underestimates; bounded cell table; partial
        sketches merge by cell-wise sum (associativity — the
        streaming-fold property)."""
        from dask_traj_spark.functions.text import (
            CMS_DEPTH,
            CMS_WIDTH,
            count_min_cells,
            count_min_estimate,
            tokens,
        )

        rows = [
            (i, ("alpha " * 30 + "beta " * 10 + f"rare{i} x y z").strip())
            for i in range(40)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        cells = count_min_cells(docs)
        assert cells.count() <= CMS_DEPTH * CMS_WIDTH
        true_counts = {
            r["word"]: r["n"]
            for r in tokens(docs).groupBy("word").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        words = spark.createDataFrame(
            [("alpha",), ("beta",), ("rare7",)], "word string"
        )
        est = {
            r["word"]: r["est"]
            for r in count_min_estimate(cells, words).collect()
        }
        for w in ("alpha", "beta", "rare7"):
            assert est[w] >= true_counts[w]  # deterministic guarantee
        # heavy hitters dominate their cells: exact at this load factor
        assert est["alpha"] == true_counts["alpha"] == 1200

        # merge property: sketch(A) + sketch(B) == sketch(A ∪ B)
        a = count_min_cells(docs.where(F.col("doc_id") < 20))
        b = count_min_cells(docs.where(F.col("doc_id") >= 20))
        merged = (
            a.unionByName(b).groupBy("row", "col").agg(F.sum("n").alias("n"))
        )
        full = count_min_cells(docs)
        diff = merged.join(full, ["row", "col"], "full").where(
            F.coalesce(merged["n"], F.lit(0)) != F.coalesce(full["n"], F.lit(0))
        )
        assert diff.count() == 0


class TestBlockAverage:
    def test_closed_forms_and_gates(self, spark):
        from dask_traj_spark.operators.distance import block_average_stats

        # constant series: every block mean is c exactly
        c = 0.8125  # dyadic
        df = spark.createDataFrame(
            [(t, c) for t in range(10)], "frame_id long, v double"
        )
        out = {r["block_size"]: r
               for r in block_average_stats(df, "v", [1, 2, 4]).collect()}
        assert out[1]["n_blocks"] == 10 and out[1]["sum_m"] == 10 * c
        assert out[2]["n_blocks"] == 5 and out[2]["sum_m"] == 5 * c
        # 10 frames at B=4: trailing 2-frame block dropped
        assert out[4]["n_blocks"] == 2
        assert out[4]["sum_m2"] == 2 * c * c
        # alternating a,b at B=2: every block mean is (a+b)/2 exactly
        a, b = 0.25, 0.75
        df2 = spark.createDataFrame(
            [(t, a if t % 2 == 0 else b) for t in range(8)],
            "frame_id long, v double",
        )
        o2 = {r["block_size"]: r
              for r in block_average_stats(df2, "v", [2]).collect()}
        assert o2[2]["sum_m"] == 4 * 0.5 and o2[2]["sum_m2"] == 4 * 0.25
        import pytest as _pytest

        with _pytest.raises(ValueError, match="powers of two"):
            block_average_stats(df, "v", [3])


class TestUrlCanonical:
    def test_canonicalization_rules(self, spark):
        from dask_traj_spark.operators.dedup import canonicalize_url

        cases = [
            ("HTTPS://WWW.Ex.COM:443/A/b", "https://www.ex.com/A/b"),
            ("http://Ex.com:80/", "http://ex.com"),
            ("https://ex.com:8443/x", "https://ex.com:8443/x"),  # non-default kept
            ("https://ex.com/p#frag", "https://ex.com/p"),
            ("https://ex.com/p?utm_source=a&id=7", "https://ex.com/p?id=7"),
            ("https://ex.com/p?id=7&utm_medium=b", "https://ex.com/p?id=7"),
            # multiple tracking params: global replace, dangling & cleaned
            ("https://ex.com/p?utm_a=1&gclid=2&fbclid=3", "https://ex.com/p"),
            ("https://ex.com/path/", "https://ex.com/path"),
            # path case preserved, host case folded
            ("HTTP://HOST.COM/CaseSensitive", "http://host.com/CaseSensitive"),
        ]
        df = spark.createDataFrame(
            [(i, u) for i, (u, _) in enumerate(cases)], "doc_id long, url string"
        )
        got = {
            r["doc_id"]: r["c"]
            for r in df.select(
                "doc_id", canonicalize_url(F.col("url")).alias("c")
            ).collect()
        }
        for i, (u, want) in enumerate(cases):
            assert got[i] == want, f"{u!r}: {got[i]!r} != {want!r}"

    def test_url_duplicates_groups(self, spark):
        from dask_traj_spark.operators.dedup import url_duplicates

        df = spark.createDataFrame(
            [
                (1, "https://a.com/x"),
                (2, "HTTPS://A.com:443/x/"),
                (3, "https://a.com/x#f"),
                (4, "https://a.com/x?id=1"),
            ],
            "doc_id long, url string",
        )
        out = {r["canonical_url"]: r for r in url_duplicates(df).collect()}
        assert out["https://a.com/x"]["keep_id"] == 1
        assert out["https://a.com/x"]["n_variants"] == 3
        assert out["https://a.com/x?id=1"]["n_variants"] == 1


class TestMojibake:
    def test_counts_repair_and_plan(self, spark):
        from dask_traj_spark.functions.text import MOJIBAKE_MAP, mojibake_stats
        from dask_traj_spark.plans.audit import formatted_plan

        rows = [
            (0, "clean ascii text"),
            (1, "cafÃ© and crÃ¨me brÃ»lÃ©e"),   # Ã© ×2, Ã¨ ×1 (Ã» unmapped)
            (2, "donâ€™t â€œquote me"),
            (3, "25Â° Ã¼ber maÃ±ana Ã©"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in mojibake_stats(df).collect()}
        assert got[0]["n_artifacts"] == 0 and got[0]["flagged"] == 0
        assert got[0]["n_chars_repaired"] == got[0]["n_chars"]
        assert got[1]["n_artifacts"] == 3 and got[1]["flagged"] == 1
        # each 2-char artifact repairs to 1 char
        assert got[1]["n_chars_repaired"] == got[1]["n_chars"] - 3
        assert got[2]["n_artifacts"] == 2
        # 3-char artifacts repair to 1 char: -2 each
        assert got[2]["n_chars_repaired"] == got[2]["n_chars"] - 4
        assert got[3]["n_artifacts"] == 4
        # a repaired doc re-scanned is clean (repair is idempotent)
        repaired_text = rows[1][1]
        for k, v in MOJIBAKE_MAP.items():
            repaired_text = repaired_text.replace(k, v)
        again = mojibake_stats(
            spark.createDataFrame([(9, repaired_text)], "doc_id long, text string")
        ).collect()[0]
        assert again["n_artifacts"] == 0
        # one codegen'd projection: no shuffle, no Python
        plan = formatted_plan(mojibake_stats(df))
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestSniffKind:
    def test_all_magics_and_mislabels(self, spark):
        from dask_traj_spark.operators.multimodal import (
            encode_avi,
            encode_bmp,
            encode_jpeg,
            encode_png,
            encode_tiff,
            encode_wav,
            sniff_kind,
        )

        rows = [
            (0, "image/bmp", bytearray(encode_bmp(2, 2, bytes(12)))),
            (1, "image/png", bytearray(encode_png(2, 2, bytes(12)))),
            (2, "image/jpeg", bytearray(encode_jpeg(8, 8, bytes(64)))),
            (3, "image/tiff", bytearray(encode_tiff(2, 2, bytes(12)))),
            (4, "audio/wav", bytearray(encode_wav([0, 1, -1]))),
            (5, "video/avi", bytearray(encode_avi(2, 2, [bytes(12)]))),
            # big-endian TIFF sniffs as tiff even though our decoder
            # only reads LE — sniffing is container-level
            (6, "image/tiff", bytearray(b"MM\x00\x2a" + bytes(8))),
            (7, "image/png", bytearray(encode_bmp(2, 2, bytes(12)))),  # mislabel
            (8, "what/ever", bytearray(b"\x00\x01\x02\x03" * 4)),
        ]
        df = spark.createDataFrame(
            [(i, k, p, len(p)) for i, k, p in rows],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        got = {r["doc_id"]: r for r in sniff_kind(df).collect()}
        for i in (0, 1, 2, 3, 4, 5, 6):
            assert got[i]["match"] == 1, i
        assert got[7]["sniffed_kind"] == "image/bmp" and got[7]["match"] == 0
        assert got[8]["sniffed_kind"] == "unknown" and got[8]["match"] == 0

    def test_sniff_is_jvm_side(self, spark):
        """No Python evaluation and no shuffle in the sniff itself."""
        from dask_traj_spark.operators.multimodal import sniff_kind
        from dask_traj_spark.plans.audit import formatted_plan

        df = spark.createDataFrame(
            [(1, "image/bmp", bytearray(b"BM"), 2)],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        plan = formatted_plan(sniff_kind(df))
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestScalarQuantization:
    def test_roundtrip_accuracy_and_topk_recall(self, spark):
        import numpy as np

        from dask_traj_spark.operators.similarity import (
            cosine_topk,
            sq_encode,
            sq_topk,
            sq_train,
        )

        rng = np.random.default_rng(3)
        rows = [
            (i, [float(v) for v in rng.normal(0, 1, 16).astype(np.float32)])
            for i in range(120)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        scales = sq_train(df)
        assert scales.shape == (16,) and (scales > 0).all()
        codes = {r["vec_id"]: r["codes"] for r in sq_encode(df, scales).collect()}
        # codes bounded and reconstruct the normalized vector to ~1%
        v0 = np.array(rows[0][1], dtype=np.float32)
        v0 /= np.linalg.norm(v0)
        rec = np.array(codes[0], dtype=np.float32) / 127.0 * scales
        assert max(abs(c) for c in codes[0]) <= 127
        assert np.abs(rec - v0).max() < 0.02
        # int8 keeps enough precision that approx top-10 == exact top-10
        approx = {
            (r["qid"], r["vec_id"]) for r in sq_topk(df, [0, 1], k=10).collect()
        }
        exact = {
            (r["qid"], r["vec_id"])
            for r in cosine_topk(df, [0, 1], k=10).collect()
        }
        assert len(approx & exact) >= 16  # >= 80% overlap across both queries


class TestIncrementalIVF:
    def test_append_replay_and_partial_probe(self, spark, tmp_path):
        import numpy as np

        from dask_traj_spark.operators.similarity import (
            cosine_topk_ivf_indexed,
            ivf_append_batch,
            ivf_build_index,
        )

        rng = np.random.default_rng(9)
        rows = [
            (i, [float(v) for v in rng.normal(0, 1, 8).astype(np.float32)])
            for i in range(90)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        d = str(tmp_path / "idx")
        from pyspark.sql import functions as F

        ivf_build_index(df.where(F.col("vec_id") % 3 == 0), d, n_centroids=4)
        for b in (1, 2, 2, 1):  # replay storm
            ivf_append_batch(df.where(F.col("vec_id") % 3 == b), b, d)
        corpus = spark.read.parquet(f"{d}/corpus")
        # exactly once: every vector present once after the storm
        assert corpus.count() == 90
        assert corpus.select("vec_id").distinct().count() == 90
        # indexed query over the incremental index still works with
        # partition pruning (full probe == brute force top-1 id set)
        out = cosine_topk_ivf_indexed(spark, d, [0], k=3, nprobe=4)
        assert out.count() == 3


class TestContainment:
    def test_quote_detection_is_asymmetric(self, spark):
        from dask_traj_spark.operators.dedup import containment_pairs

        short = "alpha beta gamma delta"
        long_doc = short + " epsilon zeta eta theta iota kappa"
        rows = [(1, short), (2, long_doc), (3, "unrelated words only here")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            (r["inner_doc"], r["outer_doc"]): r["containment"]
            for r in containment_pairs(docs, threshold=0.9, max_df=None).collect()
        }
        # the short doc is fully contained in the long one...
        assert out[(1, 2)] == 1.0
        # ...but NOT vice versa (asymmetry), and unrelated docs absent
        assert (2, 1) not in out and not any(3 in k for k in out)


class TestAdviceR5Regressions:
    def test_bigram_short_docs_emit_no_spurious_rows(self, spark):
        """length<2 docs: Spark's sequence(1,0) is DESCENDING, which
        used to emit 1-char 'bigram' rows; the guard drops such docs
        exactly like the oracle's empty generate_series (ADVICE r4)."""
        from dask_traj_spark.functions.text import (
            char_bigram_crossscore,
            char_bigram_logprob,
        )

        docs = spark.createDataFrame(
            [(0, "abab"), (1, ""), (2, "x")], "doc_id long, text string"
        )
        got = char_bigram_logprob(docs).toPandas().set_index("doc_id")
        assert sorted(got.index) == [0]  # short docs produce no row
        assert got.loc[0, "n_bigrams"] == 3

        df = spark.createDataFrame(
            [(0, "abab", "train"), (1, "", "other"), (2, "q", "other")],
            "doc_id long, text string, source string",
        )
        cs = char_bigram_crossscore(df, train_source="train").toPandas()
        assert sorted(cs["doc_id"]) == [0]

    def test_dataset_split_mult_seed_changes_assignment(self, spark):
        """'mult' mode must honor seed (ADVICE r4: it was silently
        ignored); seed=0 keeps the oracle-mirrored formula."""
        from dask_traj_spark.operators.curation import _MIX_A, _MIX_M, dataset_split

        docs = spark.createDataFrame(
            [(i, f"doc {i}", "web") for i in range(500)],
            "doc_id long, text string, source string",
        )
        s0 = {r["doc_id"]: r["split"]
              for r in dataset_split(docs, order_mode="mult", seed=0).collect()}
        s7 = {r["doc_id"]: r["split"]
              for r in dataset_split(docs, order_mode="mult", seed=7).collect()}
        assert s0 != s7  # different seed, different assignment
        # seed=0 matches the documented oracle formula exactly
        for i in list(s0)[:50]:
            bucket = ((i * _MIX_A) % _MIX_M) % 100
            want = "train" if bucket < 80 else ("val" if bucket < 90 else "test")
            assert s0[i] == want

    def test_packed_input_rejects_false_contiguous(self, spark):
        """[1,2,2,4] spans 4 == len 4 but is NOT contiguous — the
        BETWEEN fast path must not fire and feed atom 3 (ADVICE r4)."""
        import numpy as np

        from dask_traj_spark.sources._arrow import frame_feed
        from dask_traj_spark.sources.loaders import from_wide_pandas

        import pandas as pd

        n_atoms = 6
        rows = []
        for f in range(2):
            rows.append(
                {"frame_id": f, "time": float(f),
                 **{f"{c}{a}": float(10 * f + a) for a in range(n_atoms)
                    for c in "xyz"}}
            )
        # build a tiny trajectory through the public wide loader
        pdf = pd.DataFrame(
            [
                (f, a, float(10 * f + a), 0.0, 0.0)
                for f in range(2)
                for a in range(n_atoms)
            ],
            columns=["frame_id", "atom_id", "x", "y", "z"],
        )
        coords = spark.createDataFrame(pdf)
        from dask_traj_spark.trajectory import Trajectory

        traj = Trajectory(coords)
        feed = frame_feed(traj.frame_packed(), np.array([1, 2, 2, 4])).source
        atoms_fed = sorted(
            {int(r["x"]) % 10 for r in feed.collect()}
        )
        assert atoms_fed == [1, 2, 4]  # 3 must NOT leak in

    def test_session_state_read_errors_propagate(self, spark, tmp_path):
        """Absent state dir → empty state (first batch); a CORRUPT
        state dir must RAISE, not silently restart sessionization
        with no open tails (ADVICE r4 medium)."""
        import pytest as _pytest

        from dask_traj_spark.streaming.ingest import _read_session_state

        absent = str(tmp_path / "no_such_state")
        assert _read_session_state(spark, absent, 3).count() == 0

        corrupt = tmp_path / "corrupt_state"
        corrupt.mkdir()
        (corrupt / "part-00000.parquet").write_bytes(b"not parquet at all")
        with _pytest.raises(Exception):
            _read_session_state(spark, str(corrupt), 3).count()


class TestJpegCodec:
    def _scalar_dct(self, block):
        """Independent scalar-loop FDCT straight from the T.81
        formula — deliberately NOT the module's matrix path, so a
        wrong scale factor or cosine argument there disagrees here."""
        import math

        out = np.zeros((8, 8))
        for u in range(8):
            for v in range(8):
                s = 0.0
                for x in range(8):
                    for y in range(8):
                        s += block[x, y] * math.cos(
                            (2 * x + 1) * u * math.pi / 16
                        ) * math.cos((2 * y + 1) * v * math.pi / 16)
                cu = math.sqrt(0.5) if u == 0 else 1.0
                cv = math.sqrt(0.5) if v == 0 else 1.0
                out[u, v] = 0.25 * cu * cv * s
        return out

    def _scalar_idct(self, coefs):
        import math

        out = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = math.sqrt(0.5) if u == 0 else 1.0
                        cv = math.sqrt(0.5) if v == 0 else 1.0
                        s += cu * cv * coefs[u, v] * math.cos(
                            (2 * x + 1) * u * math.pi / 16
                        ) * math.cos((2 * y + 1) * v * math.pi / 16)
                out[x, y] = 0.25 * s
        return out

    def test_constant_tiles_roundtrip_bit_exact(self):
        from dask_traj_spark.operators.multimodal import decode_jpeg, encode_jpeg

        tiles = [0, 17, 128, 200, 255]
        row = b"".join(bytes([t]) * 8 for t in tiles)
        px = row * 8
        w, h, ch, out = decode_jpeg(encode_jpeg(40, 8, px, channels=1, quant=1))
        assert (w, h, ch) == (40, 8, 1)
        assert out == px  # constant blocks: integer DC only, exact

    def test_transforms_match_spec_formulas(self):
        """The module's matrix DCT/IDCT vs the scalar T.81 double
        loop on random integer blocks — a wrong scale factor, cosine
        argument or transposition diverges by O(1), not 1e-12."""
        from dask_traj_spark.operators.multimodal import _jpeg_dct_mat

        c = _jpeg_dct_mat()
        rng = np.random.default_rng(5)
        blk = rng.integers(-128, 128, (8, 8)).astype(np.float64)
        np.testing.assert_allclose(c @ blk @ c.T, self._scalar_dct(blk),
                                   atol=1e-9)
        coefs = rng.integers(-200, 200, (8, 8)).astype(np.float64)
        np.testing.assert_allclose(c.T @ coefs @ c, self._scalar_idct(coefs),
                                   atol=1e-9)

    def test_against_independent_spec_pipeline(self):
        """Full pipeline vs scalar T.81 reference: encode a
        non-constant block (AC coefficients + run lengths live), then
        check decoded pixels equal scalar-FDCT → quantize →
        scalar-IDCT → round/clamp of the same input.  A ±1 allowance
        (with most pixels exact) absorbs IEEE tie-tipping when a
        coefficient or output value lands exactly on a rounding
        boundary and the two float paths differ by ~1e-13; any REAL
        decode bug (wrong table, shifted run, transposed IDCT) is
        off by tens of levels on many pixels."""
        from dask_traj_spark.operators.multimodal import (
            _JPEG_ZZ,
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, (8, 8), dtype=np.uint8)
        q = 4
        data = encode_jpeg(8, 8, img.reshape(-1).tobytes(), channels=1, quant=q)
        _, _, _, out = decode_jpeg(data)
        got = np.frombuffer(out, dtype=np.uint8).reshape(8, 8).astype(int)

        f = self._scalar_dct(img.astype(np.float64) - 128.0)
        zz = np.array([f[r, c] for r, c in _JPEG_ZZ])
        qz = np.round(zz / q)
        fq = np.zeros((8, 8))
        for (r, c), v in zip(_JPEG_ZZ, qz * q):
            fq[r, c] = v
        want = np.clip(np.round(self._scalar_idct(fq) + 128.0), 0, 255)
        diff = np.abs(got - want.astype(int))
        assert diff.max() <= 1
        assert (diff == 0).mean() >= 0.4

    def test_color_420_matches_transform_chain(self):
        """4:2:0: 4 luma blocks + subsampled chroma per MCU, nearest
        upsample, JFIF YCbCr→RGB — expected computed through the same
        public transform chain, not assumed identity."""
        from dask_traj_spark.operators.multimodal import decode_jpeg, encode_jpeg

        rgb = np.array([37, 180, 91], dtype=np.float64)
        px = bytes(int(v) for v in rgb) * 256  # constant 16×16
        w, h, ch, out = decode_jpeg(
            encode_jpeg(16, 16, px, channels=3, subsampling="420", quant=1)
        )
        assert (w, h, ch) == (16, 16, 3)
        r, g, b = rgb
        y = np.round(0.299 * r + 0.587 * g + 0.114 * b)
        cb = np.round(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)
        cr = np.round(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)
        want = np.clip(
            np.round(
                [
                    y + 1.402 * (cr - 128),
                    y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128),
                    y + 1.772 * (cb - 128),
                ]
            ),
            0,
            255,
        ).astype(np.uint8)
        got = np.frombuffer(out, dtype=np.uint8).reshape(-1, 3)
        assert (got == want).all()

    def test_noise_near_lossless_at_unit_quant(self):
        from dask_traj_spark.operators.multimodal import decode_jpeg, encode_jpeg

        rng = np.random.default_rng(3)
        px = rng.integers(0, 256, 64 * 64, dtype=np.uint8)
        _, _, _, out = decode_jpeg(
            encode_jpeg(64, 64, px.tobytes(), channels=1, quant=1)
        )
        err = np.abs(np.frombuffer(out, np.uint8).astype(int) - px.astype(int))
        assert err.max() <= 1  # DCT roundtrip rounding only

    def test_honest_gates(self):
        import pytest as _pytest

        from dask_traj_spark.operators.multimodal import decode_jpeg, encode_jpeg

        data = bytearray(encode_jpeg(8, 8, bytes(64), channels=1))
        sof = data.find(b"\xff\xc0")
        # SOF2 is SUPPORTED since round 6, but a baseline-shaped scan
        # header (Ss=0, Se=63) under it is an illegal progression —
        # the decoder must refuse rather than misparse
        data[sof + 1] = 0xC2
        with _pytest.raises(ValueError, match="spectral"):
            decode_jpeg(bytes(data))
        # SOF3 is a supported marker now, but a baseline scan header
        # (Ss=0) under it is an illegal lossless predictor — still a
        # ValueError, never silent garbage
        data[sof + 1] = 0xC3
        with _pytest.raises(ValueError, match="predictor"):
            decode_jpeg(bytes(data))
        with _pytest.raises(ValueError, match="SOI"):
            decode_jpeg(b"\x00\x01\x02")

    def test_spark_dispatch_and_pixel_stats(self, spark):
        """image/jpeg flows through decode_and_featurize, resize and
        image_pixel_stats; stats over a bmp/jpeg mix are exact."""
        from dask_traj_spark.operators.multimodal import (
            decode_and_featurize,
            encode_bmp,
            encode_jpeg,
            image_pixel_stats,
            resize_images,
        )

        tiles = [9, 30, 60, 120, 250]
        row = b"".join(bytes([t]) * 8 for t in tiles)
        jp = encode_jpeg(40, 8, row * 8, channels=1, quant=1)
        bm = encode_bmp(2, 2, bytes(range(12)))
        df = spark.createDataFrame(
            [
                (1, "image/jpeg", bytearray(jp), len(jp)),
                (2, "image/bmp", bytearray(bm), len(bm)),
            ],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        stats = {r["doc_id"]: r for r in image_pixel_stats(df).collect()}
        assert stats[1]["px_sum"] == 64 * sum(tiles)
        assert stats[1]["px_min"] == min(tiles)
        assert stats[1]["px_max"] == max(tiles)
        assert stats[1]["n_px"] == 320
        assert stats[2]["px_sum"] == sum(range(12))
        feat = {r["doc_id"]: r for r in decode_and_featurize(df, strict=True).collect()}
        assert feat[1]["width"] == 40 and feat[1]["channels"] == 1
        np.testing.assert_allclose(
            feat[1]["features"], np.float32(tiles[0] / 255.0).repeat(8)
        )
        rz = resize_images(df.where("doc_id = 1"), 5, 8).collect()[0]
        assert rz["pixels"] == [t for t in tiles for _ in (0,)] * 8


class TestJpegProgressive:
    """Progressive (SOF2) and restart-interval decode — VERDICT r5
    missing #3.  The progression reorders bits, not information, so
    every progressive encoding must decode IDENTICALLY to the
    baseline encoding of the same pixels."""

    def _block_img(self, w, h, ch, seed):
        rng = np.random.default_rng(seed)
        base = rng.integers(0, 255, (h // 8, w // 8, ch))
        return (
            np.repeat(np.repeat(base, 8, axis=0), 8, axis=1)
            .astype(np.uint8)
            .tobytes()
        )

    def test_spectral_selection_matches_baseline(self):
        from dask_traj_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        for (w, h, ch, sub) in [
            (16, 16, 1, "444"), (32, 16, 3, "444"), (32, 32, 3, "420"),
        ]:
            px = self._block_img(w, h, ch, seed=w + ch)
            base = decode_jpeg(encode_jpeg(w, h, px, ch, 1, sub))
            prog = decode_jpeg(encode_jpeg_progressive(w, h, px, ch, 1, sub))
            assert prog == base, (w, h, ch, sub)

    def test_dc_successive_approximation(self):
        """dc_split=True routes through BOTH the DC-first (Al=1) and
        DC-refinement (Ah=1) decode paths, including negative DC
        low-bit handling."""
        from dask_traj_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        for (w, h, ch) in [(16, 16, 1), (16, 16, 3)]:
            px = self._block_img(w, h, ch, seed=71 + ch)
            base = decode_jpeg(encode_jpeg(w, h, px, ch, 1))
            split = decode_jpeg(
                encode_jpeg_progressive(w, h, px, ch, 1, dc_split=True)
            )
            assert split == base

    def test_restart_intervals_baseline(self):
        """DRI/RSTn: the decoder resets DC predictors at each RSTn
        and realigns; output matches the restartless encoding, and
        the markers genuinely appear (modulo-8 indexed)."""
        from dask_traj_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        px = self._block_img(64, 8, 1, seed=13)
        want = decode_jpeg(encode_jpeg(64, 8, px, 1, 1))
        for rst in (1, 2, 3):
            b = encode_jpeg(64, 8, px, 1, 1, restart_mcus=rst)
            n_markers = sum(
                1 for i in range(len(b) - 1)
                if b[i] == 0xFF and 0xD0 <= b[i + 1] <= 0xD7
            )
            assert n_markers == (8 + rst - 1) // rst - 1
            assert decode_jpeg(b) == want

    def test_ac_refinement_handcrafted_stream(self):
        """AC successive-approximation refinement (T.81 G.1.2.3) via
        a hand-built three-scan stream: DC first, AC first at Al=1
        (coefficients land doubled), AC refine at Ah=1 whose EOB-run
        correction bits restore the exact values — checked against an
        independent IDCT of the intended coefficients."""
        import struct

        from dask_traj_spark.operators.multimodal import (
            _JPEG_AC_BITS,
            _JPEG_AC_VALS,
            _JPEG_DC_BITS,
            _JPEG_DC_VALS,
            _JPEG_ZZ,
            _BitWriter,
            _huff_encode_map,
            _jpeg_dct_mat,
            decode_jpeg,
        )

        dc_map = _huff_encode_map(_JPEG_DC_BITS, _JPEG_DC_VALS)
        ac_map = _huff_encode_map(_JPEG_AC_BITS, _JPEG_AC_VALS)

        def seg(marker, body):
            return struct.pack(">HH", marker, len(body) + 2) + body

        out = bytearray(b"\xff\xd8")
        out += seg(0xFFDB, b"\x00" + bytes([1] * 64))
        out += seg(
            0xFFC2,
            struct.pack(">BHHB", 8, 8, 8, 1) + struct.pack(">BBB", 1, 0x11, 0),
        )
        out += seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
        out += seg(0xFFC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
        sos1 = struct.pack(">B", 1) + struct.pack(">BB", 1, 0)
        # scan 1: DC first, diff 0
        w = _BitWriter()
        c, l = dc_map[0]
        w.write(c, l)
        out += seg(0xFFDA, sos1 + bytes([0, 0, 0])) + w.flush()
        # scan 2: AC first Al=1 — zigzag 1 := 3>>1 = 1, zigzag 5 := -2>>1 = -1
        w = _BitWriter()
        c, l = ac_map[(0 << 4) | 1]
        w.write(c, l)
        w.write(1, 1)  # +1
        c, l = ac_map[(3 << 4) | 1]
        w.write(c, l)
        w.write(0, 1)  # -1
        c, l = ac_map[0x00]
        w.write(c, l)
        out += seg(0xFFDA, sos1 + bytes([1, 63, 0x01])) + w.flush()
        # scan 3: AC refine Ah=1 — EOB1 then correction bits 1 (2→3), 0 (−2 stays)
        w = _BitWriter()
        c, l = ac_map[0x00]
        w.write(c, l)
        w.write(1, 1)
        w.write(0, 1)
        out += seg(0xFFDA, sos1 + bytes([1, 63, 0x10])) + w.flush()
        out += b"\xff\xd9"

        wd, hd, ch, px = decode_jpeg(bytes(out))
        got = np.frombuffer(px, dtype=np.uint8).reshape(8, 8)
        cmat = _jpeg_dct_mat()
        F = np.zeros((8, 8))
        for k, v in [(1, 3), (5, -2)]:
            r, c_ = _JPEG_ZZ[k]
            F[r, c_] = v
        want = np.clip(np.round(cmat.T @ F @ cmat + 128.0), 0, 255).astype(
            np.uint8
        )
        assert (wd, hd, ch) == (8, 8, 1)
        np.testing.assert_array_equal(got, want)

    def test_unsupported_modes_still_refuse(self):
        """Arithmetic lossless (SOF11) still raises by marker; a
        progressive stream relabeled SOF3 (now a SUPPORTED marker) is
        structurally invalid as lossless — its first scan's Ss=0 is
        not a legal predictor — so it still fails the ValueError
        contract rather than decoding garbage."""
        import pytest as _pytest

        from dask_traj_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        px = self._block_img(8, 8, 1, seed=3)
        good = bytearray(encode_jpeg_progressive(8, 8, px, 1, 1))
        decode_jpeg(bytes(good))  # sanity: progressive decodes now
        i = bytes(good).find(b"\xff\xc2")
        bad = bytearray(good)
        bad[i + 1] = 0xCB  # arithmetic LOSSLESS: refused by marker
        with _pytest.raises(ValueError, match="SOF"):
            decode_jpeg(bytes(bad))
        bad = bytearray(good)
        # arithmetic SEQUENTIAL is a supported marker now, but the
        # progressive scan headers under it are structurally invalid
        bad[i + 1] = 0xC9
        with _pytest.raises(ValueError, match="Se=63"):
            decode_jpeg(bytes(bad))
        bad = bytearray(good)
        bad[i + 1] = 0xC3  # lossless: accepted marker, invalid stream
        with _pytest.raises(ValueError, match="predictor"):
            decode_jpeg(bytes(bad))


class TestMp4Demux:
    """ISO-BMFF container demux — real box-tree walk with NO codec
    decode (pixel decode of the samples stays the honest gate)."""

    def test_roundtrip_and_sample_extraction(self):
        from dask_traj_spark.operators.multimodal import (
            demux_mp4,
            encode_mp4,
            mp4_sample,
        )

        samples = [bytes(range(10)), bytes(range(50, 57)), b"xyz"]
        b = encode_mp4(64, 48, samples, fps=10)
        info = demux_mp4(b)
        assert (info["width"], info["height"]) == (64, 48)
        assert info["codec"] == "avc1"
        assert (info["timescale"], info["duration"]) == (10, 3)
        assert info["sample_sizes"] == [10, 7, 3]
        # offsets resolved through stsc/stco must land on the exact
        # mdat bytes — variable sizes catch off-by-size walks
        for i, s in enumerate(samples):
            assert mp4_sample(b, info, i) == s

    def test_refusals(self):
        import pytest as _pytest

        from dask_traj_spark.operators.multimodal import (
            demux_mp4,
            encode_mp4,
        )

        with _pytest.raises(ValueError, match="BMFF"):
            demux_mp4(b"RIFF....AVI ....")
        # truncating moov away leaves no trak at all
        b = encode_mp4(16, 16, [b"abcd"])
        moov = b.find(b"moov") - 4
        with _pytest.raises(ValueError, match="trak"):
            demux_mp4(b[:moov])
        # a lying fixed-size stsz (cnt=2^32-1) must raise the contract
        # ValueError BEFORE allocating the multi-GB sample list (a
        # MemoryError would escape the triage error bucket)
        import struct as _struct

        good = encode_mp4(16, 16, [b"12345678", b"abcdefgh"])
        idx = good.index(b"stsz") - 4
        size = _struct.unpack(">I", good[idx:idx + 4])[0]
        bad = (
            good[:idx]
            + _struct.pack(">I", 20) + b"stsz"
            + _struct.pack(">III", 0, 1, 0xFFFFFFFF)
            + good[idx + size:]
        )
        with _pytest.raises(ValueError, match="exceeds the payload"):
            demux_mp4(bad)

    def test_sniff_kind_detects_bmff(self, spark):
        from dask_traj_spark.operators.multimodal import (
            encode_mp4,
            sniff_kind,
        )

        mp4 = encode_mp4(16, 16, [b"abcd"])
        df = spark.createDataFrame(
            [
                (1, "video/mp4", bytearray(mp4), len(mp4)),
                (2, "video/mp4", bytearray(b"\x00" * 32), 32),
            ],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        rows = {r["doc_id"]: r for r in sniff_kind(df).collect()}
        assert rows[1]["sniffed_kind"] == "video/mp4" and rows[1]["match"] == 1
        assert rows[2]["sniffed_kind"] == "unknown" and rows[2]["match"] == 0

    def test_video_container_stats_spark(self, spark):
        """End-to-end through the Spark operator: synthesized
        per-doc containers, every field closed-form in doc_id."""
        from dask_traj_spark.operators.multimodal import (
            attach_payload_mp4,
            video_container_stats,
        )

        docs = spark.createDataFrame(
            [(d,) for d in range(12)], "doc_id long"
        )
        out = {
            r["doc_id"]: r
            for r in video_container_stats(attach_payload_mp4(docs)).collect()
        }
        for d in range(12):
            r = out[d]
            n = 2 + d % 3
            assert r["width"] == 16 * (1 + d % 4)
            assert r["height"] == 16 * (1 + d % 3)
            assert r["n_samples"] == n
            assert r["duration_ticks"] == n
            assert r["total_sample_bytes"] == 8 * n
            assert r["s0_head_sum"] == sum((31 * d + j) % 256 for j in range(8))

    def test_multi_chunk_stsc_walk(self):
        """Hand-assembled two-chunk BMFF: stsc carries DIFFERENT
        samples-per-chunk entries ((1,2),(2,3)) so the general
        first_chunk→per mapping is exercised, not just the
        single-chunk layout the writer emits."""
        import struct

        from dask_traj_spark.operators.multimodal import (
            _mp4_box,
            demux_mp4,
            mp4_sample,
        )

        samples = [b"aa", b"bbb", b"c", b"dddd", b"ee"]
        ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512))
        # chunk 1 = samples 0-1, chunk 2 = samples 2-4, with 4 junk
        # bytes between the chunks (offsets must be followed, not
        # assumed contiguous)
        c1 = b"".join(samples[:2])
        c2 = b"".join(samples[2:])
        mdat = _mp4_box(b"mdat", c1 + b"JUNK" + c2)
        off1 = len(ftyp) + 8
        off2 = off1 + len(c1) + 4
        tkhd = _mp4_box(
            b"tkhd",
            struct.pack(">IIIIII", 0x7, 0, 0, 1, 0, 5)
            + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                          0x40000000)
            + struct.pack(">II", 32 << 16, 24 << 16),
        )
        stsz = _mp4_box(
            b"stsz",
            struct.pack(">III", 0, 0, 5)
            + b"".join(struct.pack(">I", len(s)) for s in samples),
        )
        stsc = _mp4_box(
            b"stsc",
            struct.pack(">II", 0, 2)
            + struct.pack(">III", 1, 2, 1)
            + struct.pack(">III", 2, 3, 1),
        )
        stco = _mp4_box(b"stco", struct.pack(">IIII", 0, 2, off1, off2))
        stbl = _mp4_box(b"stbl", stsz + stsc + stco)
        moov = _mp4_box(
            b"moov",
            _mp4_box(b"trak", tkhd + _mp4_box(b"mdia", _mp4_box(
                b"minf", stbl))),
        )
        data = ftyp + mdat + moov
        info = demux_mp4(data)
        assert (info["width"], info["height"]) == (32, 24)
        assert info["sample_sizes"] == [2, 3, 1, 4, 2]
        for i, s in enumerate(samples):
            assert mp4_sample(data, info, i) == s

    def test_corrupt_box_and_multi_trak(self):
        """Review findings: a zero/undersized largesize box must raise
        (not spin forever), and a video+audio two-trak file must
        return the VIDEO trak's metadata, not the last trak's."""
        import struct

        import pytest as _pytest

        from dask_traj_spark.operators.multimodal import (
            _mp4_box,
            demux_mp4,
            encode_mp4,
        )

        # largesize == 0 would never advance the walker
        ftyp = _mp4_box(b"ftyp", b"isom")
        evil = struct.pack(">I4sQ", 1, b"free", 0)
        with _pytest.raises(ValueError, match="largesize"):
            demux_mp4(ftyp + evil)
        with _pytest.raises(ValueError, match="size"):
            demux_mp4(ftyp + struct.pack(">I4s", 3, b"free"))

        # video trak first, then an audio trak with different tables:
        # splice a second trak (hdlr 'soun') into a real file
        good = encode_mp4(64, 48, [b"vvvv", b"ww"], fps=10)
        info = demux_mp4(good)
        assert info["codec"] == "avc1" and info["width"] == 64
        # rebuild with an extra audio trak appended inside moov
        i = good.find(b"moov")
        moov_size = struct.unpack_from(">I", good, i - 4)[0]
        moov_body = good[i + 4 : i - 4 + moov_size]
        audio_stbl = _mp4_box(
            b"stbl",
            _mp4_box(b"stsz", struct.pack(">IIII", 0, 0, 1, 2))
            + _mp4_box(b"stsc", struct.pack(">IIIII", 0, 1, 1, 1, 1))
            + _mp4_box(b"stco", struct.pack(">III", 0, 1, 16)),
        )
        audio_trak = _mp4_box(
            b"trak",
            _mp4_box(b"mdia", _mp4_box(
                b"hdlr",
                struct.pack(">II", 0, 0) + b"soun" + b"\x00" * 13,
            ) + _mp4_box(b"minf", audio_stbl)),
        )
        new_moov = _mp4_box(b"moov", moov_body + audio_trak)
        two = good[: i - 4] + new_moov
        info2 = demux_mp4(two)
        assert info2["codec"] == "avc1"
        assert (info2["width"], info2["height"]) == (64, 48)
        assert info2["sample_sizes"] == [4, 2]


class TestJpegProgressiveRestart:
    def test_progressive_restart_matches_baseline(self):
        """Restart intervals inside PROGRESSIVE scans: the decoder
        must reset DC predictors and EOB runs at each RSTn in every
        scan class, including MCU-unit restarts in the interleaved
        4:2:0 DC scan."""
        import numpy as np

        from dask_traj_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        rng = np.random.default_rng(83)
        for (w, h, ch, sub) in [
            (32, 16, 1, "444"), (32, 32, 3, "420"), (24, 16, 3, "444"),
        ]:
            px = rng.integers(0, 256, (h, w, ch)).astype(np.uint8).tobytes()
            base = decode_jpeg(encode_jpeg(w, h, px, ch, 1, sub))
            for ru in (1, 2, 3):
                for split in (False, True):
                    got = decode_jpeg(encode_jpeg_progressive(
                        w, h, px, ch, 1, sub,
                        dc_split=split, restart_units=ru,
                    ))
                    assert got == base, (w, h, ch, sub, ru, split)


class TestDuplicateSpans:
    def test_hand_built_spans(self, spark):
        from dask_traj_spark.operators.dedup import duplicate_spans

        # shared phrase "x y z w" gives two overlapping duplicated
        # 3-gram windows (pos 1 and 2) in each doc → ONE merged span
        # of 4 tokens; doc 2's repeated-within-itself trigram is NOT
        # flagged (min_docs counts distinct documents)
        rows = [
            (0, "a x y z w b c d e f"),
            (1, "q x y z w r s t u v"),
            (2, "m n o p m n o p m n o p"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pdf = (
            duplicate_spans(docs, ngram=3)
            .toPandas()
            .sort_values(["doc_id", "span_start"])
            .reset_index(drop=True)
        )
        assert pdf["doc_id"].tolist() == [0, 1]
        assert pdf["span_start"].tolist() == [1, 1]
        assert pdf["span_end"].tolist() == [4, 4]
        assert pdf["span_tokens"].tolist() == [4, 4]

    def test_disjoint_spans_stay_separate(self, spark):
        from dask_traj_spark.operators.dedup import duplicate_spans

        # two shared trigrams far apart in doc 0 → two spans
        rows = [
            (0, "x y z a b c d e f p q r"),
            (1, "x y z h i j k l m n o w"),
            (2, "h h h h h h h h h p q r"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pdf = (
            duplicate_spans(docs, ngram=3)
            .toPandas()
            .sort_values(["doc_id", "span_start"])
        )
        d0 = pdf[pdf.doc_id == 0]
        assert d0["span_start"].tolist() == [0, 9]
        assert d0["span_end"].tolist() == [2, 11]

    def test_validation(self, spark):
        import pytest as _pytest

        from dask_traj_spark.operators.dedup import duplicate_spans

        docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="ngram"):
            duplicate_spans(docs, ngram=0)
        with _pytest.raises(ValueError, match="min_docs"):
            duplicate_spans(docs, min_docs=1)

    def test_excision(self, spark):
        from dask_traj_spark.operators.dedup import (
            duplicate_spans,
            excise_duplicate_spans,
        )

        rows = [
            (0, "a x y z w b"),        # span [1,4] → "a b"
            (1, "q x y z w r"),
            (2, "short doc"),          # < ngram tokens: untouched
            (3, "p q r"),              # fully covered → empty text
            (4, "p q r"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = (
            excise_duplicate_spans(docs, duplicate_spans(docs, ngram=3))
            .toPandas()
            .set_index("doc_id")
            .sort_index()
        )
        assert out.loc[0, "text"] == "a b" and out.loc[0, "n_removed"] == 4
        assert out.loc[2, "text"] == "short doc"
        assert out.loc[2, "n_removed"] == 0
        assert out.loc[3, "text"] == "" and out.loc[3, "n_removed"] == 3
        assert set(out.columns) >= {"text", "n_removed"}


class TestMaximalMatches:
    def test_hand_built_maximal_matches(self, spark):
        """A 12-token shared run reports as ONE maximal match at full
        length (not n-gram pieces); a repeat of the run inside one
        partner yields a second alignment diagonal; an exactly-ngram
        match reports at length ngram; within-doc repeats alone are
        not reported (cross-doc pairs only)."""
        from dask_traj_spark.operators.dedup import maximal_matches

        A = " ".join(f"a{i}" for i in range(12))
        B = " ".join(f"b{i}" for i in range(8))
        rows = [
            (0, f"x0 x1 x2 {A} y0 y1 {B}"),
            (1, f"{A} z0 z1 z2 z3 z4 z5 z6 z7 {A}"),
            (2, f"w0 w1 w2 w3 w4 w5 w6 w7 {B} w8"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        want = [(0, 1, 3, 0, 12), (0, 1, 3, 20, 12), (0, 2, 17, 8, 8)]
        for mode in ("exact", "hashed"):
            got = sorted(
                tuple(r)
                for r in maximal_matches(
                    docs, ngram=8, key_mode=mode
                ).collect()
            )
            assert got == sorted(want), (mode, got)

    def test_occurrence_cap_mirrors_drop(self, spark):
        """max_occ drops over-cap anchor keys BEFORE the pair join:
        with cap 2, the thrice-occurring run disappears while the
        twice-occurring one survives."""
        from dask_traj_spark.operators.dedup import maximal_matches

        A = " ".join(f"a{i}" for i in range(12))
        B = " ".join(f"b{i}" for i in range(8))
        rows = [
            (0, f"x0 x1 x2 {A} y0 y1 {B}"),
            (1, f"{A} z0 z1 z2 z3 z4 z5 z6 z7 {A}"),
            (2, f"w0 w1 w2 w3 w4 w5 w6 w7 {B} w8"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            tuple(r)
            for r in maximal_matches(
                docs, ngram=8, key_mode="exact", max_occ=2
            ).collect()
        )
        assert got == [(0, 2, 17, 8, 8)], got

    def test_validation(self, spark):
        import pytest as _pytest

        from dask_traj_spark.operators.dedup import maximal_matches

        docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="ngram"):
            maximal_matches(docs, ngram=0)
        with _pytest.raises(ValueError, match="max_occ"):
            maximal_matches(docs, max_occ=1)
        with _pytest.raises(ValueError, match="key_mode"):
            maximal_matches(docs, key_mode="bogus")

    def test_within_doc_repeats(self, spark):
        """within_doc=True reports each document's internal maximal
        repeats once (start1 > start2, positive diagonal, no trivial
        self match), alongside the unchanged cross-doc rows."""
        from dask_traj_spark.operators.dedup import maximal_matches

        A = " ".join(f"a{i}" for i in range(8))
        rows = [
            (0, f"{A} z0 z1 z2 z3 z4 z5 z6 z7 {A}"),
            (1, "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # cross-doc default: nothing shared between doc 0 and doc 1
        assert maximal_matches(docs, ngram=8).count() == 0
        got = sorted(
            tuple(r)
            for r in maximal_matches(
                docs, ngram=8, within_doc=True, key_mode="exact"
            ).collect()
        )
        # doc 0 repeats the 8-token run at positions 0 and 16
        assert got == [(0, 0, 16, 0, 8)], got

    def test_keep_first_excision_pipeline(self, spark):
        """maximal_matches -> spans_from_matches -> excise: the
        keep-first-occurrence policy removes every later copy of a
        shared run (cross-doc: the higher doc_id; within-doc: the
        later position) and leaves the first copy intact."""
        from dask_traj_spark.operators.dedup import (
            excise_duplicate_spans,
            maximal_matches,
            spans_from_matches,
        )

        A = " ".join(f"a{i}" for i in range(8))
        rows = [
            (0, f"head0 head1 {A} tail0"),
            (1, f"{A} mid0 mid1 mid2 mid3 mid4 mid5 mid6 mid7 {A}"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        spans = spans_from_matches(
            maximal_matches(docs, ngram=8, within_doc=True)
        )
        out = (
            excise_duplicate_spans(docs, spans)
            .toPandas()
            .set_index("doc_id")
            .sort_index()
        )
        # doc 0 holds the first occurrence (lowest doc) -> untouched;
        # doc 1 loses BOTH copies (cross-doc duplicate of doc 0's run
        # at start 0 and 16; the within-doc repeat adds span 16..23)
        assert out.loc[0, "text"] == f"head0 head1 {A} tail0"
        assert out.loc[0, "n_removed"] == 0
        assert (
            out.loc[1, "text"]
            == "mid0 mid1 mid2 mid3 mid4 mid5 mid6 mid7"
        )
        assert out.loc[1, "n_removed"] == 16

    def test_matches_brute_force_on_random_corpora(self, spark):
        """Property check against an independent per-diagonal
        longest-common-extension reference: for each doc pair and
        alignment diagonal, scan elementwise token equality and
        report every >= ngram run.  Tiny alphabet forces dense
        repeats, within-doc repeats, and overlapping diagonals —
        the shapes where an anchor-merge bug would hide."""
        import numpy as np

        from dask_traj_spark.operators.dedup import maximal_matches

        rng = np.random.default_rng(42)
        NG = 3
        for trial in range(6):
            toks = [
                [f"w{v}" for v in rng.integers(0, 4, size=int(n))]
                for n in rng.integers(NG, 25, size=4)
            ]
            docs = spark.createDataFrame(
                [(i, " ".join(t)) for i, t in enumerate(toks)],
                "doc_id long, text string",
            )
            def diag_runs(d1, d2, a, b, diags):
                out = []
                for diag in diags:
                    run = 0
                    lo = max(0, diag)
                    hi = min(len(a), len(b) + diag)
                    for p1 in range(lo, hi + 1):
                        eq = p1 < hi and a[p1] == b[p1 - diag]
                        if eq:
                            run += 1
                        else:
                            if run >= NG:
                                out.append(
                                    (d1, d2, p1 - run, p1 - run - diag, run)
                                )
                            run = 0
                return out

            want, want_self = [], []
            for d1 in range(len(toks)):
                a = toks[d1]
                # within-doc repeats: positive diagonals only
                want_self += diag_runs(d1, d1, a, a, range(1, len(a)))
                for d2 in range(d1 + 1, len(toks)):
                    b = toks[d2]
                    want += diag_runs(
                        d1, d2, a, b, range(-(len(b) - 1), len(a))
                    )
            got = sorted(
                tuple(r)
                for r in maximal_matches(
                    docs, ngram=NG, key_mode="exact", max_occ=None
                ).collect()
            )
            assert got == sorted(want), (trial, got, sorted(want))
            got_all = sorted(
                tuple(r)
                for r in maximal_matches(
                    docs, ngram=NG, key_mode="exact", max_occ=None,
                    within_doc=True,
                ).collect()
            )
            assert got_all == sorted(want + want_self), trial


class TestVideoCodecMix:
    def test_sniff_routing_and_per_codec_totals(self, spark):
        """Mixed corpus: two mp4 codecs, one AVI, one BMP mislabeled
        as video/mp4 — the mislabeled payload must route by MAGIC
        BYTES into the 'none' bucket, and the per-codec sample/byte
        totals must match the fixtures' closed forms."""
        from dask_traj_spark.operators.multimodal import (
            attach_payload_avi,
            attach_payload_bmp,
            attach_payload_mp4,
            video_codec_mix,
        )
        from pyspark.sql import functions as SF

        docs = spark.createDataFrame(
            [(i, "hello world " * 10) for i in range(8)],
            "doc_id long, text string",
        )
        pick = lambda r: docs.where(SF.col("doc_id") % 4 == r)  # noqa: E731
        media = (
            attach_payload_mp4(pick(0), codec_fn=lambda d: b"avc1")
            .unionByName(
                attach_payload_mp4(pick(1), codec_fn=lambda d: b"hev1")
            )
            .unionByName(attach_payload_avi(pick(2)))
            .unionByName(
                attach_payload_bmp(pick(3)).withColumn(
                    "kind", SF.lit("video/mp4")
                )
            )
        )
        out = {
            (r["container"], r["codec"]): r
            for r in video_codec_mix(media).collect()
        }
        # doc_ids 0,4 -> avc1; 1,5 -> hev1; 2,6 -> avi; 3,7 -> bmp
        # mp4 n_samples = 2 + d%3: avc1 docs {0: 2, 4: 3} -> 5
        avc = out[("mp4", "avc1")]
        assert (avc["n_videos"], avc["n_samples"]) == (2, 5)
        assert avc["total_sample_bytes"] == 8 * 5
        # hev1 docs {1: 2+1=3, 5: 2+2=4} -> 7
        hev = out[("mp4", "hev1")]
        assert (hev["n_videos"], hev["n_samples"]) == (2, 7)
        avi = out[("avi", "DIB")]
        assert (avi["n_videos"], avi["n_samples"]) == (2, 6)
        assert avi["total_sample_bytes"] == 2 * 72
        none = out[("none", "image/bmp")]
        assert none["n_videos"] == 2
        assert none["n_samples"] == 0 and none["total_sample_bytes"] == 0

    def test_corrupt_video_lands_in_error_bucket(self, spark):
        """A payload that SNIFFS as video but fails the demux must
        aggregate under 'error', not kill the job — triage buckets
        bad assets."""
        from dask_traj_spark.operators.multimodal import (
            attach_payload_mp4,
            video_codec_mix,
        )
        from pyspark.sql import functions as SF

        docs = spark.createDataFrame(
            [(0, "x"), (1, "y")], "doc_id long, text string"
        )
        media = attach_payload_mp4(docs)
        # truncate one payload after the ftyp box: still sniffs as
        # ISO-BMFF, demux raises on the missing moov
        media = media.withColumn(
            "payload",
            SF.when(
                SF.col("doc_id") == 1,
                SF.expr("substring(payload, 1, 24)"),
            ).otherwise(SF.col("payload")),
        )
        out = {
            (r["container"], r["codec"]): r
            for r in video_codec_mix(media).collect()
        }
        assert out[("mp4", "avc1")]["n_videos"] == 1
        err = out[("error", "video/mp4")]
        assert err["n_videos"] == 1 and err["n_samples"] == 0


class TestBloomMembership:
    def test_no_false_negatives_and_flags(self, spark):
        """Every ref member probes true (the Bloom guarantee); novel
        strings stay false at this m/n ratio; the broadcast and
        shuffle-join paths agree row-for-row; bad geometry raises."""
        import pytest as _pytest

        from dask_traj_spark.operators.dedup import (
            bloom_build,
            bloom_membership,
        )

        ref = spark.createDataFrame(
            [(i, f"doc body number {i}") for i in range(50)],
            "doc_id long, text string",
        )
        probes = spark.createDataFrame(
            [(i, f"doc body number {i}") for i in range(25)]      # members
            + [(100 + i, f"unseen text {i}") for i in range(25)],  # novel
            "doc_id long, text string",
        )
        got = (
            bloom_membership(ref, probes, n_bits=1 << 12)
            .toPandas().set_index("doc_id")["maybe_dup"]
        )
        assert got[got.index < 100].all()   # no false negatives, ever
        assert not got[got.index >= 100].any()  # 4096 bits/50 keys: no FPs
        alt = (
            bloom_membership(ref, probes, n_bits=1 << 12, broadcast=False)
            .toPandas().set_index("doc_id")["maybe_dup"]
        )
        assert (got.sort_index() == alt.sort_index()).all()
        # bitmap row bound holds regardless of corpus size
        assert bloom_build(ref, n_bits=1 << 12).count() <= (1 << 12) // 64
        with _pytest.raises(ValueError, match="power of two"):
            bloom_build(ref, n_bits=1000)
        with _pytest.raises(ValueError, match="n_hashes"):
            bloom_build(ref, n_hashes=0)


class TestQuantilePrune:
    def test_keeps_top_fraction_per_stratum(self, spark):
        from dask_traj_spark.operators.curation import quantile_prune

        # 4 docs per source; quality is driven by distinct/stopword
        # ratios — doc texts chosen so the per-source quality order
        # is doc 0 > 1 > 2 > 3 (more distinct words, more stopwords)
        rows = []
        for s in range(2):
            base = s * 10
            rows += [
                (base + 0, "the quick brown fox jumps over a lazy dog", f"s{s}"),
                (base + 1, "the quick brown fox fox fox fox lazy dog", f"s{s}"),
                (base + 2, "fox fox fox fox fox fox fox lazy dog", f"s{s}"),
                (base + 3, "fox fox fox fox fox fox fox fox fox", f"s{s}"),
            ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        # keep_frac=0.5: pct_rank over 4 rows is k/3 — keep k=0 and 1
        got = quantile_prune(docs, keep_frac=0.5).toPandas()
        assert sorted(got["doc_id"]) == [0, 1, 10, 11]
        # keep_frac=1.0 keeps everything; 0.0 keeps each stratum's top
        assert quantile_prune(docs, keep_frac=1.0).count() == 8
        top = quantile_prune(docs, keep_frac=0.0).toPandas()
        assert sorted(top["doc_id"]) == [0, 10]

    def test_decision_is_physical_order_independent(self, spark):
        from dask_traj_spark.operators.curation import quantile_prune

        docs = spark.createDataFrame(
            [(i, f"w{i % 7} common w{i % 5} tail{i}", f"s{i % 3}") for i in range(30)],
            "doc_id long, text string, source string",
        )
        a = quantile_prune(docs, keep_frac=0.4).toPandas()
        b = quantile_prune(
            docs.repartition(7).sortWithinPartitions(F.col("doc_id").desc()),
            keep_frac=0.4,
        ).toPandas()
        assert sorted(a["doc_id"]) == sorted(b["doc_id"])


class TestDsirImportance:
    def _corpus(self, spark):
        # target-like docs share the "alpha beta gamma" vocabulary;
        # off-target docs use disjoint words
        rows = [
            (0, "alpha beta gamma alpha beta"),   # target member
            (4, "alpha beta gamma gamma alpha"),  # target member
            (1, "alpha beta gamma beta gamma"),   # target-like raw doc
            (2, "delta epsilon zeta eta theta"),  # off-target raw doc
            (3, "iota kappa lambda mu nu"),       # off-target raw doc
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_target_like_docs_score_higher(self, spark):
        from dask_traj_spark.operators.curation import dsir_importance

        docs = self._corpus(spark)
        target = docs.where(F.col("doc_id") % 4 == 0)
        for mode in ("hash", "sorted"):
            pdf = (
                dsir_importance(docs, target, n_buckets=512, id_mode=mode)
                .toPandas()
                .set_index("doc_id")
            )
            assert len(pdf) == 5
            assert (pdf["n_tokens"] == 5).all()
            # every target-vocabulary doc outranks every off-target doc
            like = pdf.loc[[0, 4, 1], "avg_logratio"]
            unlike = pdf.loc[[2, 3], "avg_logratio"]
            assert like.min() > unlike.max(), pdf

    def test_physical_order_independence_and_mode_validation(self, spark):
        from dask_traj_spark.operators.curation import dsir_importance

        docs = self._corpus(spark)
        target = docs.where(F.col("doc_id") % 4 == 0)
        a = (
            dsir_importance(docs, target, n_buckets=512)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        b = (
            dsir_importance(
                docs.repartition(5).sortWithinPartitions(F.col("doc_id").desc()),
                target, n_buckets=512,
            )
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        # dyadic-snapped per-bucket values: bit-equal, not just close
        assert (a["avg_logratio"] == b["avg_logratio"]).all()
        with pytest.raises(ValueError, match="id_mode"):
            dsir_importance(docs, target, id_mode="bogus")


class TestWeightedSample:
    def test_draw_is_weight_biased_and_deterministic(self, spark):
        from dask_traj_spark.operators.curation import weighted_sample

        # one 60-token doc among 59 one-token docs: across seeds, the
        # heavy doc must appear in a k=1 draw far more often than any
        # single light doc (P(heavy first) = 60/119 ≈ 0.5)
        rows = [(0, " ".join(["w"] * 60))] + [(i, "w") for i in range(1, 60)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        heavy_hits = 0
        for seed in range(24):
            got = weighted_sample(docs, k=1, seed=seed).toPandas()
            assert len(got) == 1
            heavy_hits += int(got["doc_id"].iloc[0] == 0)
        assert 6 <= heavy_hits <= 22, heavy_hits  # ~12 expected, 1/60 unweighted
        # same seed → bit-identical sample regardless of physical order
        a = weighted_sample(docs, k=10, seed=3).toPandas()
        b = weighted_sample(
            docs.repartition(7).sortWithinPartitions(F.col("doc_id").desc()),
            k=10, seed=3,
        ).toPandas()
        assert sorted(a["doc_id"]) == sorted(b["doc_id"])
        assert (a.sort_values("doc_id")["key"].to_numpy()
                == b.sort_values("doc_id")["key"].to_numpy()).all()

    def test_stratified_form_and_validation(self, spark):
        from dask_traj_spark.operators.curation import weighted_sample

        docs = spark.createDataFrame(
            [(i, f"w{i % 7} common w{i % 5}", f"s{i % 3}") for i in range(30)],
            "doc_id long, text string, source string",
        )
        got = weighted_sample(docs, k=2, strata_col="source").toPandas()
        assert len(got) == 6
        assert sorted(got["source"].value_counts().to_dict().items()) == [
            ("s0", 2), ("s1", 2), ("s2", 2)
        ]
        with pytest.raises(ValueError, match="order_mode"):
            weighted_sample(docs, k=1, order_mode="bogus")


    def test_null_text_never_sampled(self, spark):
        # NULL text → NULL weight: Spark sorts NULLs FIRST ascending
        # (DuckDB: LAST), so an unguarded key would put the
        # zero-information doc at the HEAD of the sample in one
        # engine and outside it in the other
        from dask_traj_spark.operators.curation import weighted_sample

        docs = spark.createDataFrame(
            [(0, None), (1, "w w w"), (2, "w")],
            "doc_id long, text string",
        )
        got = weighted_sample(docs, k=3).toPandas()
        assert sorted(got["doc_id"]) == [1, 2]
        assert got["key"].notna().all()


class TestCurationDifferential:
    """Pure-Python reference recomputations of the session's curation
    operators on fixed corpora — semantic correctness independent of
    the DuckDB oracles (which pin engine parity, not the formula)."""

    def _mk_docs(self, spark, n=60):
        import random

        rng = random.Random(11)
        words = [f"w{j}" for j in range(9)] + ["the", "a", "of"]
        rows = [
            (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 30))),
             f"s{i % 3}")
            for i in range(n)
        ]
        return rows, spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )

    @staticmethod
    def _quality(text):
        from dask_traj_spark.functions.text import STOPWORDS

        toks = text.split(" ")
        n = text.count(" ") + 1.0
        stop = sum(1.0 for w in toks if w in STOPWORDS)
        return (stop / n + min(n, 50.0) / 50.0 + len(set(toks)) / n) / 3.0

    def test_quantile_prune_matches_pure_python(self, spark):
        from dask_traj_spark.operators.curation import quantile_prune

        rows, docs = self._mk_docs(spark)
        got = quantile_prune(docs, keep_frac=0.6).toPandas()
        by_src = {}
        for doc_id, text, src in rows:
            by_src.setdefault(src, []).append((-self._quality(text), doc_id))
        want = set()
        for src, entries in by_src.items():
            entries.sort()
            for rk, (negq, doc_id) in enumerate(entries):
                if len(entries) == 1 or rk / (len(entries) - 1) <= 0.6:
                    want.add(doc_id)
        assert set(got["doc_id"]) == want

    def test_weighted_sample_matches_pure_python(self, spark):
        import math

        from dask_traj_spark.operators.curation import (
            _MIX_A, _MIX_M, weighted_sample,
        )

        rows, docs = self._mk_docs(spark)
        got = weighted_sample(docs, k=15, order_mode="mult").toPandas()
        GRID = 1048576.0
        keys = []
        for doc_id, text, _src in rows:
            u = ((doc_id * _MIX_A) % _MIX_M + 1) / float(_MIX_M)
            e = math.floor(-math.log(u) * GRID + 0.5) / GRID
            w = text.count(" ") + 1.0
            keys.append((e / w, doc_id))
        keys.sort()
        want = [doc_id for _k, doc_id in keys[:15]]
        assert sorted(got["doc_id"]) == sorted(want)

    def test_dsir_matches_pure_python(self, spark):
        import math

        from pyspark.sql import functions as F

        from dask_traj_spark.operators.curation import (
            _MIX_A, _MIX_M, dsir_importance,
        )

        rows, docs = self._mk_docs(spark)
        target = docs.where(F.col("doc_id") % 5 == 0)
        B, GRID = 512, 1048576.0
        got = (
            dsir_importance(docs, target, n_buckets=B, id_mode="sorted")
            .toPandas().set_index("doc_id")
        )
        vocab = sorted({w for _i, t, _s in rows for w in t.split(" ")})
        tid = {w: i + 1 for i, w in enumerate(vocab)}
        bkt = lambda w: ((tid[w] * _MIX_A) % _MIX_M) % B  # noqa: E731
        c_raw, c_tgt, n_raw, n_tgt = {}, {}, 0, 0
        for doc_id, text, _s in rows:
            for w in text.split(" "):
                c_raw[bkt(w)] = c_raw.get(bkt(w), 0) + 1
                n_raw += 1
                if doc_id % 5 == 0:
                    c_tgt[bkt(w)] = c_tgt.get(bkt(w), 0) + 1
                    n_tgt += 1

        def snap(x):
            s = x * GRID
            return (math.floor(s + 0.5) if s >= 0 else -math.floor(-s + 0.5)) / GRID

        lr = {
            b: snap(math.log((c_tgt.get(b, 0) + 1) / (n_tgt + B)))
            - snap(math.log((c + 1) / (n_raw + B)))
            for b, c in c_raw.items()
        }
        for doc_id, text, _s in rows:
            toks = text.split(" ")
            want = sum(lr[bkt(w)] for w in toks) / len(toks)
            assert got.loc[doc_id, "n_tokens"] == len(toks)
            assert abs(got.loc[doc_id, "avg_logratio"] - want) <= 1e-6, doc_id


def _ref_bpe_train(texts, n_merges):
    """Pure-Python Sennrich-style reference: word-freq table, argmax
    pair under (count DESC, pair ASC), greedy left-to-right merge."""
    freq = {}
    for t in texts:
        for w in t.split(" "):
            freq[w] = freq.get(w, 0) + 1
    syms = {w: list(w) for w in freq}
    merges = []
    for rank in range(1, n_merges + 1):
        counts = {}
        for w, f in freq.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, a, b, c))
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


class TestBpe:
    def test_matches_reference_on_random_corpora(self, spark):
        import random

        from dask_traj_spark.operators.bpe import bpe_train

        for seed in (5, 23):
            rng = random.Random(seed)
            texts = [
                " ".join(
                    "".join(rng.choice("abcde") for _ in range(rng.randint(1, 7)))
                    for _ in range(rng.randint(1, 12))
                )
                for _ in range(40)
            ]
            docs = spark.createDataFrame(
                [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
            )
            m_ref, syms_ref = _ref_bpe_train(texts, 10)
            m_got, seg = bpe_train(docs, n_merges=10)
            assert m_got == m_ref, (seed, m_got[:3], m_ref[:3])
            got_syms = {r["word"]: r["syms"] for r in seg.collect()}
            assert got_syms == syms_ref, seed

    def test_run_merge_is_left_to_right_nonoverlapping(self, spark):
        from dask_traj_spark.operators.bpe import bpe_train

        docs = spark.createDataFrame(
            [(0, "aaaa aaa")], "doc_id long, text string"
        )
        merges, seg = bpe_train(docs, n_merges=1)
        assert merges == [(1, "a", "a", 5)]
        got = {r["word"]: r["syms"] for r in seg.collect()}
        assert got == {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"]}

    def test_early_stop_when_pairs_exhaust(self, spark):
        from dask_traj_spark.operators.bpe import bpe_train

        # "ab" collapses to one symbol after merge 1; single-char "c"
        # never pairs — training must stop at 2 merges, not 10
        docs = spark.createDataFrame(
            [(0, "ab ab c abab")], "doc_id long, text string"
        )
        merges, _seg = bpe_train(docs, n_merges=10)
        assert [m[:3] for m in merges] == [(1, "a", "b"), (2, "ab", "ab")]

    def test_token_counts_shrink_with_merges(self, spark):
        from dask_traj_spark.operators.bpe import (
            bpe_token_counts,
            bpe_train,
        )

        docs = spark.createDataFrame(
            [(i, f"spark spark quark w{i}") for i in range(10)],
            "doc_id long, text string",
        )
        _m0, seg0 = bpe_train(docs, n_merges=0)
        _m6, seg6 = bpe_train(docs, n_merges=6)
        c0 = bpe_token_counts(docs, seg0).toPandas().set_index("doc_id")
        c6 = bpe_token_counts(docs, seg6).toPandas().set_index("doc_id")
        assert (c0["n_words"] == 4).all()
        # chars per doc >= post-merge subwords, and merges only shrink
        assert (c6["n_bpe_tokens"] < c0["n_bpe_tokens"]).all()
        assert (c6["n_bpe_tokens"] >= c6["n_words"]).all()


    def test_empty_tokens_excluded_from_vocabulary(self, spark):
        # consecutive spaces produce empty-string tokens; they carry
        # no symbols and must be excluded on BOTH engine and oracle
        # sides (the oracle's GROUP-BY rebuild would drop the
        # zero-symbol word after round 1 while an unfiltered engine
        # kept it — the divergence the review caught)
        from dask_traj_spark.operators.bpe import (
            bpe_token_counts,
            bpe_train,
        )

        docs = spark.createDataFrame(
            [(0, "ab  ab"), (1, "ab")], "doc_id long, text string"
        )
        merges, seg = bpe_train(docs, n_merges=2, checkpoint_every=0)
        assert merges == [(1, "a", "b", 3)]
        words = {r["word"] for r in seg.collect()}
        assert words == {"ab"}
        got = bpe_token_counts(docs, seg).toPandas().set_index("doc_id")
        assert got.loc[0, "n_words"] == 2 and got.loc[0, "n_bpe_tokens"] == 2
        assert got.loc[1, "n_words"] == 1 and got.loc[1, "n_bpe_tokens"] == 1



def test_pack_sequences_with_precomputed_counts(spark):
    # c10's contract (a curation test — the counts SOURCE is BPE but
    # the operator is pack_sequences): packing driven by a
    # (doc_id, n_tokens) table must equal packing a corpus whose
    # whitespace counts are those numbers — and docs absent from the
    # table are simply not packed
    from dask_traj_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(i, "x") for i in range(20)], "doc_id long, text string"
    )
    counts = spark.createDataFrame(
        [(i, 3 + i % 5) for i in range(20)], "doc_id long, n_tokens long"
    )
    proxy = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + i % 5))) for i in range(20)],
        "doc_id long, text string",
    )
    a = (
        pack_sequences(docs, budget=7, order_mode="mult", token_counts=counts)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    b = (
        pack_sequences(proxy, budget=7, order_mode="mult")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert a.equals(b), (a.head(), b.head())
    short = pack_sequences(
        docs, budget=7, order_mode="mult",
        token_counts=counts.where("doc_id < 5"),
    ).toPandas()
    assert sorted(short["doc_id"]) == [0, 1, 2, 3, 4]


def test_curation_example_runs_end_to_end(spark, capsys):
    """The user-facing walkthrough must keep running as operators
    evolve (it broke once mid-session on a renamed kwarg) — drive it
    on the shared session against the sf0.001 tables."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(__file__), "..", "examples", "curation_pipeline.py"
    )
    spec = importlib.util.spec_from_file_location("curation_example", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main(spark=spark, sf_dir="/root/testdata/sf0.001")
    out = capsys.readouterr().out
    assert "raw corpus: 500 docs" in out
    assert "train split:" in out


def test_cluster_keep_best_prefers_quality_over_min_id(spark):
    """d16's policy vs d7's: the kept member is the QUALITY argmax,
    which here is deliberately NOT the minimum doc_id."""
    from dask_traj_spark.operators.dedup import keep_best_in_clusters

    docs = spark.createDataFrame(
        [
            # cluster {0,1,2}: doc 1 has the most distinct words and
            # stopwords -> highest t2 quality; d7 would keep doc 0
            (0, "fox fox fox fox fox"),
            (1, "the quick brown fox jumps"),
            (2, "fox fox fox quick quick"),
            (3, "a lonely singleton document"),  # keeps itself
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2)], "id1 long, id2 long"
    )
    got = (
        keep_best_in_clusters(docs, pairs)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert (got.loc[[0, 1, 2], "component"] == 0).all()
    assert got.loc[3, "component"] == 3
    assert got["keep"].tolist() == [0, 1, 0, 1]


def test_mixture_weights_damp_dominant_sources(spark):
    """c11: α=0.5 damps the head — a source with 4x the tokens gets
    only 2x the weight; weights sum to 1 and budgets to <= total."""
    from dask_traj_spark.operators.curation import mixture_weights

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 16), "big") for i in range(4)]
        + [(100, " ".join(["w"] * 16), "small")],
        "doc_id long, text string, source string",
    )
    got = mixture_weights(docs, total_budget=900).toPandas().set_index("source")
    assert got.loc["big", "n_tokens"] == 64
    assert got.loc["small", "n_tokens"] == 16
    # sqrt ratio: sqrt(64)/sqrt(16) = 2, so weights are 2/3 and 1/3
    assert abs(got.loc["big", "weight"] - 2 / 3) < 1e-9
    assert abs(got.loc["small", "weight"] - 1 / 3) < 1e-9
    assert got["budget_tokens"].sum() <= 900
    assert got.loc["big", "budget_tokens"] == 600


# ------------------------------------------------------- c12 chunking


def test_context_chunks_exact_boundaries(spark):
    from dask_traj_spark.operators.curation import context_chunks

    docs = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")], "doc_id long, text string"
    )
    rows = (
        context_chunks(docs, chunk_tokens=4, stride=3)
        .orderBy("chunk_idx")
        .collect()
    )
    # n=10, chunk=4, stride=3: starts 0,3,6 — the last window reaches
    # the end exactly (6+4=10); no start past the end, no tiny tail
    assert [(r.chunk_idx, r.n_tokens, r.chunk_text) for r in rows] == [
        (0, 4, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t6 t7 t8 t9"),
    ]


def test_context_chunks_short_doc_single_chunk_and_ragged_tail(spark):
    from dask_traj_spark.operators.curation import context_chunks

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d e f")], "doc_id long, text string"
    )
    rows = (
        context_chunks(docs, chunk_tokens=4, stride=4)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    # doc 1 shorter than one window -> exactly one (short) chunk;
    # doc 2 with stride == chunk -> disjoint windows, ragged tail
    assert [(r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_text) for r in rows] == [
        (1, 0, 2, "a b"),
        (2, 0, 4, "a b c d"),
        (2, 1, 2, "e f"),
    ]


def test_context_chunks_rejects_bad_geometry(spark):
    import pytest

    from dask_traj_spark.operators.curation import context_chunks

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        context_chunks(docs, chunk_tokens=4, stride=5)  # stride > chunk
    with pytest.raises(ValueError):
        context_chunks(docs, chunk_tokens=0, stride=1)
    with pytest.raises(ValueError):
        context_chunks(docs, chunk_tokens=4, stride=0)


def test_context_chunks_coverage_reconstructs_document(spark):
    """Every token appears in some chunk, and stitching the stride-
    prefix of each chunk (full tail for the last) rebuilds the doc."""
    from dask_traj_spark.operators.curation import context_chunks

    text = " ".join(f"w{i}" for i in range(23))
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    rows = (
        context_chunks(docs, chunk_tokens=8, stride=5)
        .orderBy("chunk_idx")
        .collect()
    )
    rebuilt = []
    for r in rows[:-1]:
        rebuilt.extend(r.chunk_text.split(" ")[:5])
    rebuilt.extend(rows[-1].chunk_text.split(" "))
    # the last window may re-cover tokens the stride walk already
    # emitted: drop the overlap by position
    start_last = (len(rows) - 1) * 5
    assert rebuilt[:start_last] == text.split(" ")[:start_last]
    assert rows[-1].chunk_text.split(" ") == text.split(" ")[start_last:]


# ---------------------------------------------------- t20 char entropy


def test_char_entropy_known_values(spark):
    import math

    from dask_traj_spark.functions.text import LP_GRID, char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "aabb")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in char_entropy(docs).collect()}
    # single-char doc: entropy exactly +0.0 (sign matters to the hash)
    assert got[1].entropy == 0.0
    assert math.copysign(1.0, got[1].entropy) == 1.0
    # uniform two-char docs: 2 * -(1/2 * snap(ln 1/2))
    snap = round(0.5 * math.log(0.5) * LP_GRID) / LP_GRID
    assert got[2].entropy == -2 * snap
    assert got[3].entropy == -2 * snap
    assert got[2].n_distinct_chars == 2 and got[2].n_chars == 2


def test_char_entropy_matches_python_reference(spark):
    import math
    from collections import Counter

    from dask_traj_spark.functions.text import LP_GRID, char_entropy

    texts = ["the quick brown fox", "zzzzzz yyy x", "a b a b a b"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r.doc_id: r.entropy for r in char_entropy(docs).collect()}
    for i, t in enumerate(texts):
        n = len(t)
        want = 0.0
        for c, cnt in Counter(t).items():
            p = cnt / n
            want -= round(p * math.log(p) * LP_GRID) / LP_GRID
        assert got[i] == want, (i, got[i], want)


def test_char_entropy_drops_empty_and_null(spark):
    from dask_traj_spark.functions.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, None)], "doc_id long, text string"
    )
    assert [r.doc_id for r in char_entropy(docs).collect()] == [1]


# ------------------------------------------------------ t21 source KL


def test_source_kl_zero_for_identical_distributions(spark):
    from dask_traj_spark.functions.text import source_unigram_kl

    docs = spark.createDataFrame(
        [(1, "a a b", "s1"), (2, "a a b", "s2"), (3, "a a b a a b", "s2")],
        "doc_id long, text string, source string",
    )
    rows = {r.source: r for r in source_unigram_kl(docs).collect()}
    # every source's unigram distribution equals the corpus's:
    # the snapped lns cancel exactly, so KL is exactly 0.0
    assert rows["s1"].kl_nats == 0.0
    assert rows["s2"].kl_nats == 0.0
    assert rows["s1"].n_tokens == 3 and rows["s2"].n_tokens == 9


def test_source_kl_matches_python_reference(spark):
    import math
    from collections import Counter

    from dask_traj_spark.functions.text import LP_GRID, source_unigram_kl

    data = [
        (1, "a a a b", "skewed"),
        (2, "a b c d", "uniform"),
        (3, "c d c d", "uniform"),
    ]
    docs = spark.createDataFrame(data, "doc_id long, text string, source string")
    corpus = Counter()
    per_src: dict[str, Counter] = {}
    for _i, t, s in data:
        ws = t.split(" ")
        corpus.update(ws)
        per_src.setdefault(s, Counter()).update(ws)
    n = sum(corpus.values())

    def snap(x: float) -> float:
        return round(x * LP_GRID) / LP_GRID

    want = {}
    for s, cnt in per_src.items():
        n_s = sum(cnt.values())
        kl = 0.0
        for w, c in cnt.items():
            p_s = c / n_s
            lr = snap(math.log(p_s)) - snap(math.log(corpus[w] / n))
            kl += snap(p_s * lr)
        want[s] = kl
    got = {r.source: r.kl_nats for r in source_unigram_kl(docs).collect()}
    assert got == want
    # both sources genuinely diverge from the (mixed) corpus
    assert got["skewed"] > 0.0 and got["uniform"] > 0.0


# ----------------------------------------------------- t22 winnowing


def _winnow_reference(hashes: list[int], w: int) -> set[tuple[int, int]]:
    """Pure-Python Schleimer et al. winnowing: per window of w
    hashes select the minimum, rightmost on ties; distinct set."""
    m = len(hashes)
    out = set()
    for j in range(max(m - w, 0) + 1):
        window = hashes[j : j + w]
        best_p, best_h = -1, None
        for i, h in enumerate(window):
            if best_h is None or h <= best_h:
                best_p, best_h = j + i, h
        out.add((best_p, best_h))
    return out


def test_winnowing_matches_python_reference_hashed(spark):
    """The hashed (production) path: collect the gram hashes Spark
    computes, winnow them in Python, and pin the operator's selection
    set — the selection logic is verified independent of the hash."""
    from dask_traj_spark.functions.text import winnow_fingerprints

    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "pack my box with five dozen liquor jugs the quick brown fox",
        "a b",  # shorter than k -> no fingerprints
        "one two three",  # exactly k tokens -> single clipped window
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    k, w = 3, 4
    # gram hashes exactly as the operator computes them
    gh = {
        r.doc_id: r.gh
        for r in docs.selectExpr(
            "doc_id",
            f"CASE WHEN size(split(text, ' ')) >= {k} THEN "
            f"transform(sequence(0, size(split(text, ' ')) - {k}), "
            f"i -> xxhash64(array_join(slice(split(text, ' '), i + 1, {k}), ' ')))"
            " ELSE array() END AS gh",
        ).collect()
        if len(r.gh) > 0
    }
    want = {
        (d, p, h)
        for d, hs in gh.items()
        for (p, h) in _winnow_reference(list(hs), w)
    }
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in winnow_fingerprints(docs, k=k, w=w).collect()
    }
    assert got == want
    assert not any(d == 2 for d, _p, _h in got)  # short doc dropped
    assert sum(1 for d, _p, _h in got if d == 3) == 1  # one clipped window


def test_winnowing_shared_run_guarantee(spark):
    """Any shared run of >= w + k - 1 tokens must yield at least one
    SHARED fingerprint (the winnowing guarantee, both id modes)."""
    from dask_traj_spark.functions.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w+k-1
    docs = spark.createDataFrame(
        [
            (1, f"x1 y1 {shared} z1 w1"),
            (2, f"p2 q2 r2 s2 {shared}"),
        ],
        "doc_id long, text string",
    )
    for mode in ("hashed", "sorted"):
        fps = winnow_fingerprints(docs, k=3, w=4, id_mode=mode)
        both = (
            fps.groupBy("fp")
            .agg(F.countDistinct("doc_id").alias("nd"))
            .where(F.col("nd") == 2)
            .count()
        )
        assert both >= 1, mode


def test_winnowing_rightmost_tiebreak_and_density(spark):
    """Equal hashes in one window select the RIGHTMOST position; and
    selection density over random text stays near 2/(w+1)."""
    from dask_traj_spark.functions.text import winnow_fingerprints

    # identical grams everywhere -> every window's min is a tie; the
    # rightmost rule selects window-end positions only
    docs = spark.createDataFrame(
        [(1, "a a a a a a a a a a")], "doc_id long, text string"
    )
    rows = winnow_fingerprints(docs, k=3, w=4, id_mode="sorted").collect()
    # m = 8 grams, windows j=0..4 select positions j+3 (rightmost)
    assert sorted(r.pos for r in rows) == [3, 4, 5, 6, 7]
    assert len({r.fp for r in rows}) == 1

    import random

    rng = random.Random(7)
    text = " ".join(rng.choice("abcdefghijklmnop") for _ in range(400))
    docs2 = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n_sel = winnow_fingerprints(docs2, k=3, w=4).count()
    m = 400 - 3 + 1
    density = n_sel / m
    assert 0.25 < density < 0.55, density  # 2/(w+1) = 0.4 expected


def test_winnowing_rejects_bad_params(spark):
    import pytest

    from dask_traj_spark.functions.text import winnow_fingerprints

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        winnow_fingerprints(docs, k=0, w=4)
    with pytest.raises(ValueError):
        winnow_fingerprints(docs, k=3, w=0)
    with pytest.raises(ValueError):
        winnow_fingerprints(docs, k=3, w=4, id_mode="nope")


# -------------------------------------------------- d17 winnow matches


def test_winnow_matches_counts_distinct_shared_fps(spark):
    from dask_traj_spark.operators.dedup import winnow_matches

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, f"u1 v1 {shared} w1"),
            (2, f"u2 v2 {shared} w2"),
            (3, "totally different words here none shared at all"),
        ],
        "doc_id long, text string",
    )
    rows = winnow_matches(docs, k=3, w=4, min_shared=1).collect()
    pairs = {(r.doc1, r.doc2): r.n_shared for r in rows}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(3 not in p for p in pairs)
    # doc1 < doc2 always
    assert all(a < b for a, b in pairs)


def test_winnow_matches_df_cap_drops_boilerplate(spark):
    """A fingerprint shared by every doc must be dropped by the df
    cap before the self-join (no O(B^2) pair blow-up)."""
    from dask_traj_spark.operators.dedup import winnow_matches

    boiler = "standard legal footer text repeated on every single page"
    docs = spark.createDataFrame(
        [(i, f"unique{i} words{i} {boiler}") for i in range(12)],
        "doc_id long, text string",
    )
    # cap below the corpus size: the boilerplate fps exceed it
    assert winnow_matches(docs, k=3, w=4, max_df=4).count() == 0
    # uncapped, every pair matches
    n = winnow_matches(docs, k=3, w=4, max_df=None).count()
    assert n == 12 * 11 // 2


def test_winnow_matches_min_shared_guard(spark):
    import pytest

    from dask_traj_spark.operators.dedup import winnow_matches

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        winnow_matches(docs, min_shared=0)


# ---------------------------------------------------- c13 shard shuffle


def test_shuffle_shards_partitions_and_orders(spark):
    from dask_traj_spark.operators.curation import shuffle_shards

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(100)], "doc_id long, text string"
    )
    out = shuffle_shards(docs, n_shards=4, order_mode="mult").collect()
    assert len(out) == 100
    assert {r.shard for r in out} == {0, 1, 2, 3}
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for rows in by_shard.values():
        # positions are 1..n dense within the shard
        assert sorted(r.pos for r in rows) == list(range(1, len(rows) + 1))


def test_shuffle_shards_reproducible_and_seed_sensitive(spark):
    from dask_traj_spark.operators.curation import shuffle_shards

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(60)], "doc_id long, text string"
    )
    a = {(r.doc_id, r.shard, r.pos) for r in shuffle_shards(docs, 4, seed=1).collect()}
    b = {(r.doc_id, r.shard, r.pos) for r in shuffle_shards(docs, 4, seed=1).collect()}
    c = {(r.doc_id, r.shard, r.pos) for r in shuffle_shards(docs, 4, seed=2).collect()}
    # same seed: bit-identical; different seed: a different permutation
    assert a == b
    assert a != c
    # repartitioned input gives the identical shuffle
    d = {
        (r.doc_id, r.shard, r.pos)
        for r in shuffle_shards(docs.repartition(7), 4, seed=1).collect()
    }
    assert a == d


def test_shuffle_shards_guards(spark):
    import pytest

    from dask_traj_spark.operators.curation import shuffle_shards

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        shuffle_shards(docs, n_shards=0)
    with pytest.raises(ValueError):
        shuffle_shards(docs, n_shards=4, order_mode="nope")


# ------------------------------------------------ t23 perplexity buckets


def test_perplexity_buckets_thirds_and_ordering(spark):
    from dask_traj_spark.functions.text import perplexity_buckets

    # one source, 9 docs: fluent docs (corpus-typical bigrams) must
    # land in 'head', gibberish in 'tail'; bucket sizes are exact
    # thirds via the integer boundaries
    fluent = "the cat sat on the mat and the dog sat too"
    rows = [(i, fluent + f" extra{i}", "s") for i in range(6)]
    rows += [(10, "zq xv jk qz vx kj zq xv jk", "s"),
             (11, "qqq zzz xxx vvv qqq zzz", "s"),
             (12, fluent + " qz zq", "s")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.doc_id: r.bucket for r in perplexity_buckets(docs).collect()}
    assert len(got) == 9
    from collections import Counter

    assert Counter(got.values()) == {"head": 3, "middle": 3, "tail": 3}
    assert got[10] == "tail" and got[11] == "tail"


def test_perplexity_buckets_per_source_independence(spark):
    """Bucketing is within-source: a doc that would be tail globally
    is head inside a source of worse docs."""
    from dask_traj_spark.functions.text import perplexity_buckets

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog and the cat", "good"),
            (2, "the dog and the cat and the dog", "good"),
            (3, "the cat and the dog and the rat", "good"),
            (4, "zq xv jk qz the cat", "bad"),
            (5, "qq zz xx vv kk jj", "bad"),
            (6, "xj qv zk jx vq kz", "bad"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r.doc_id: r.bucket for r in perplexity_buckets(docs).collect()}
    # the least-gibberish doc of the bad source heads ITS source
    assert got[4] == "head"
    # every source has exactly one head with n=3
    assert sum(1 for d in (1, 2, 3) if got[d] == "head") == 1


# ------------------------------------------------------- d18 pagerank


def test_pagerank_matches_python_reference(spark):
    import math

    from dask_traj_spark.functions.text import LP_GRID
    from dask_traj_spark.operators.graph import DAMPING, pagerank

    e = [(1, 2), (2, 3), (3, 1), (3, 2), (1, 3), (2, 1), (4, 1), (1, 4)]
    edges = spark.createDataFrame(e, "src long, dst long")
    verts = sorted({a for a, _ in e} | {b for _, b in e})
    n = len(verts)
    deg = {v: sum(1 for a, _ in e if a == v) for v in verts}
    p = {v: 1.0 / n for v in verts}
    for _ in range(8):
        acc = {v: 0.0 for v in verts}
        for a, b in e:
            # HALF_UP like Spark/DuckDB round() — Python's round()
            # is banker's and would diverge on an exact .5 tie
            acc[b] += math.floor(
                ((DAMPING * p[a]) / deg[a]) * LP_GRID + 0.5
            ) / LP_GRID
        p = {v: (1.0 - DAMPING) / n + acc[v] for v in verts}
    got = {r.vertex: r.pagerank for r in pagerank(edges, n_iter=8).collect()}
    assert got == p
    # per-edge grid snapping drifts total mass by ~n_edges·2^-21/iter
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-4)


def test_pagerank_hub_ranks_highest_and_is_repartition_stable(spark):
    from dask_traj_spark.operators.graph import pagerank

    # star: every leaf <-> hub 0
    e = [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)]
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {r.vertex: r.pagerank for r in pagerank(edges, n_iter=8).collect()}
    assert got[0] == max(got.values())
    assert all(got[0] > got[i] for i in range(1, 9))
    # physical order cannot change a single bit
    got2 = {
        r.vertex: r.pagerank
        for r in pagerank(edges.repartition(7), n_iter=8).collect()
    }
    assert got == got2


def test_pagerank_dangling_leak_and_guards(spark):
    import pytest

    from dask_traj_spark.operators.graph import pagerank

    # directed chain 1 -> 2 -> 3: vertex 3 dangles, mass leaks
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r.vertex: r.pagerank for r in pagerank(edges, n_iter=4).collect()}
    assert len(got) == 3
    assert sum(got.values()) < 1.0  # the documented non-redistributing variant
    with pytest.raises(ValueError):
        pagerank(edges, n_iter=0)
    # damping must be a dyadic k/256 — the textbook 0.85 is refused
    with pytest.raises(ValueError, match="dyadic"):
        pagerank(edges, n_iter=2, damping=0.85)
    with pytest.raises(ValueError, match="tol"):
        pagerank(edges, n_iter=2, tol=0.0)


def test_pagerank_tol_stops_early_and_nears_fixpoint(spark):
    """The approx mode (VERDICT r10 item 6c): on a symmetric ring the
    uniform start IS the fixpoint, so round 1's delta is only grid
    dust and tol stops immediately; on a star graph the tol run must
    land within the contraction bound of a long fixed run and report
    a sub-tol final delta."""
    from dask_traj_spark.operators.graph import pagerank

    # symmetric ring of 8: fixpoint from the start
    ring = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)]
        + [((i + 1) % 8, i) for i in range(8)],
        "src long, dst long",
    )
    df, meta = pagerank(ring, n_iter=20, tol=1.0 / 4096, return_meta=True)
    assert meta["n_rounds"] == 1 and meta["final_delta"] < 1.0 / 4096
    got = {r.vertex: r.pagerank for r in df.collect()}
    assert all(abs(v - 1.0 / 8) < 1e-4 for v in got.values())

    # star graph, damping 1/2 → contraction rate 1/2 per round
    e = [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)]
    star = spark.createDataFrame(e, "src long, dst long")
    tol = 1.0 / 4096
    approx, meta = pagerank(
        star, n_iter=40, tol=tol, damping=0.5, return_meta=True
    )
    assert meta["final_delta"] < tol
    assert 1 < meta["n_rounds"] < 40  # converged, not capped
    exact = pagerank(star, n_iter=40, damping=0.5)
    a = {r.vertex: r.pagerank for r in approx.collect()}
    b = {r.vertex: r.pagerank for r in exact.collect()}
    # ||p_t − p*||₁ ≤ delta·d/(1−d) = delta at d=1/2; 2× for slack
    l1 = sum(abs(a[v] - b[v]) for v in a)
    assert l1 <= 2 * tol, (l1, meta)
    # determinism: physical order cannot change the stopping round
    approx2, meta2 = pagerank(
        star.repartition(5), n_iter=40, tol=tol, damping=0.5,
        return_meta=True,
    )
    assert meta2["n_rounds"] == meta["n_rounds"]
    assert {r.vertex: r.pagerank for r in approx2.collect()} == a


def test_pagerank_tol_empty_edges_converges_trivially(spark):
    """Review finding (r11): an empty edge list must return the empty
    rank table with delta 0 in one round, not crash on a NULL L1
    aggregate (the dup graph of a clean corpus has no edges)."""
    from dask_traj_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    df, meta = pagerank(empty, n_iter=40, tol=1.0 / 4096, return_meta=True)
    assert df.count() == 0
    assert meta == {"n_rounds": 1, "final_delta": 0.0}


def test_pagerank_dangling_redistribute_matches_python_reference(spark):
    """dangling="redistribute" (VERDICT r11 item 5a) against an exact
    Python mirror of the documented arithmetic — D_t assembled from
    the grid shadow (k·base one multiply + exact grid sum), uniform
    share snapped back to the grid — on a two-sink graph where leak
    mode demonstrably loses mass."""
    import math

    from dask_traj_spark.functions.text import LP_GRID
    from dask_traj_spark.operators.graph import pagerank

    # 1→2, 1→3, 4→2: vertices 2 and 3 are sinks (half the graph)
    e = [(1, 2), (1, 3), (4, 2)]
    d = 0.5
    edges = spark.createDataFrame(e, "src long, dst long")
    verts = sorted({a for a, _ in e} | {b for _, b in e})
    n = len(verts)
    base = (1.0 - d) / n
    deg = {v: sum(1 for a, _ in e if a == v) for v in verts}
    sinks = [v for v in verts if deg.get(v, 0) == 0]
    snap = lambda x: math.floor(x * LP_GRID + 0.5) / LP_GRID  # noqa: E731
    p = {v: 1.0 / n for v in verts}
    acc = {v: snap(d / n) for v in verts}  # round-0 shadow baseline
    for _ in range(6):
        dmass = len(sinks) * base + math.fsum(acc[u] for u in sinks)
        share = snap(d * dmass / n)
        nxt = {v: 0.0 for v in verts}
        for a, b in e:
            nxt[b] += snap((d * p[a]) / deg[a])
        acc = {v: nxt[v] + share for v in verts}
        p = {v: base + acc[v] for v in verts}
    got = {
        r.vertex: r.pagerank
        for r in pagerank(
            edges, n_iter=6, damping=d, dangling="redistribute"
        ).collect()
    }
    assert got == p
    # mass conserved up to grid dust; leak mode loses real mass
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-4)
    leak = {
        r.vertex: r.pagerank
        for r in pagerank(edges, n_iter=6, damping=d).collect()
    }
    assert sum(leak.values()) < 1.0 - 1.0 / 16
    # physical order cannot change a bit
    got2 = {
        r.vertex: r.pagerank
        for r in pagerank(
            edges.repartition(5), n_iter=6, damping=d,
            dangling="redistribute",
        ).collect()
    }
    assert got == got2
    # no sinks → redistribute is exactly the leak-mode result
    ring = spark.createDataFrame(
        [(i, (i + 1) % 4) for i in range(4)], "src long, dst long"
    )
    a = {r.vertex: r.pagerank for r in pagerank(ring, n_iter=4).collect()}
    b = {
        r.vertex: r.pagerank
        for r in pagerank(
            ring, n_iter=4, dangling="redistribute"
        ).collect()
    }
    assert a == b
    import pytest

    with pytest.raises(ValueError, match="dangling"):
        pagerank(ring, n_iter=2, dangling="uniform")


def test_pagerank_dangling_redistribute_with_tol(spark):
    """The grid shadow keeps working under redistribution: tol mode
    stops on a sink graph, conserves mass, and the stopping round is
    partition-stable."""
    from dask_traj_spark.operators.graph import pagerank

    e = [(i, i + 10) for i in range(8)]  # 8 sources, 8 sinks
    edges = spark.createDataFrame(e, "src long, dst long")
    df, meta = pagerank(
        edges, n_iter=40, tol=1.0 / 4096, damping=0.5,
        dangling="redistribute", return_meta=True,
    )
    assert meta["final_delta"] < 1.0 / 4096
    assert meta["n_rounds"] < 40
    got = {r.vertex: r.pagerank for r in df.collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-4
    df2, meta2 = pagerank(
        edges.repartition(3), n_iter=40, tol=1.0 / 4096, damping=0.5,
        dangling="redistribute", return_meta=True,
    )
    assert meta2["n_rounds"] == meta["n_rounds"]
    assert {r.vertex: r.pagerank for r in df2.collect()} == got


def test_pagerank_tol_checkpoint_every_zero_is_safe(spark):
    """ADVICE r11: tol + checkpoint_every=0 used to leave new_p and p
    on one shared uncheckpointed lineage (quadratic per-round
    re-execution + self-join ambiguity risk); tol mode now pins new_p
    before the delta action regardless, so the legal parameter combo
    returns the checkpoint_every=1 result exactly."""
    from dask_traj_spark.operators.graph import pagerank

    e = [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)]
    star = spark.createDataFrame(e, "src long, dst long")
    tol = 1.0 / 4096
    ref, meta_ref = pagerank(
        star, n_iter=40, tol=tol, damping=0.5, return_meta=True
    )
    for ck in (0, 3):
        df, meta = pagerank(
            star, n_iter=40, tol=tol, damping=0.5,
            checkpoint_every=ck, return_meta=True,
        )
        assert meta["n_rounds"] == meta_ref["n_rounds"], ck
        assert (
            {r.vertex: r.pagerank for r in df.collect()}
            == {r.vertex: r.pagerank for r in ref.collect()}
        ), ck


# --------------------------------------------- c14 chunk-shard composite


def test_chunk_shard_pipeline_composition(spark):
    """The composite equals composing the operators stepwise: only
    quality-kept docs are chunked, every chunk lands in exactly one
    shard, and positions are dense per shard."""
    from dask_traj_spark.functions.text import quality_expr
    from dask_traj_spark.operators.curation import (
        context_chunks,
        shuffle_shards,
    )

    docs = spark.createDataFrame(
        [
            (1, "a of is to in the and cat dog tree sea sun moon star"),
            (2, "zz zz zz zz"),  # low quality: repeated, no stopwords
            (3, "a big table of data is all we need to work in peace now"),
        ],
        "doc_id long, text string",
    )
    kept = docs.where(quality_expr() >= 0.5)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 2 not in kept_ids and {1, 3} <= kept_ids
    chunks = context_chunks(kept, chunk_tokens=8, stride=6)
    keyed = chunks.withColumn(
        "chunk_id", F.col("doc_id") * F.lit(1024) + F.col("chunk_idx")
    )
    out = shuffle_shards(
        keyed, n_shards=2, order_mode="mult", id_col="chunk_id"
    ).collect()
    assert len(out) == chunks.count()
    assert {r.doc_id for r in out} == kept_ids
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


# ---------------- session-5 randomized differential sweeps (seeded)


def test_context_chunks_random_geometry_differential(spark):
    """30 random (doc length, chunk, stride) geometries in one batch
    vs a pure-Python chunker: boundaries, counts, and text all
    exact."""
    import random

    from dask_traj_spark.operators.curation import context_chunks

    rng = random.Random(42)
    cases = []
    for i in range(30):
        n = rng.randint(1, 200)
        cases.append((i, " ".join(f"w{j}" for j in range(n))))
    # one shared geometry per run keeps it a single Spark job; cycle
    # three representative geometries across seeds
    for chunk, stride in ((7, 3), (16, 16), (5, 5)):
        docs = spark.createDataFrame(cases, "doc_id long, text string")
        got = {
            (r.doc_id, r.chunk_idx): (r.n_tokens, r.chunk_text)
            for r in context_chunks(
                docs, chunk_tokens=chunk, stride=stride
            ).collect()
        }
        want = {}
        for i, text in cases:
            toks = text.split(" ")
            n = len(toks)
            n_chunks = (
                1 if n <= chunk else 1 + -(-(n - chunk) // stride)
            )
            for ci in range(n_chunks):
                s = ci * stride
                sl = toks[s : s + chunk]
                want[(i, ci)] = (len(sl), " ".join(sl))
        assert got == want, (chunk, stride)


def test_winnowing_random_geometry_differential(spark):
    """Random texts x random (k, w) vs the pure-Python winnower over
    the operator's own gram hashes."""
    import random

    from dask_traj_spark.functions.text import winnow_fingerprints

    rng = random.Random(7)
    for k, w in ((2, 2), (4, 7), (5, 3)):
        cases = [
            (
                i,
                " ".join(
                    rng.choice("abcdefgh") for _ in range(rng.randint(1, 60))
                ),
            )
            for i in range(20)
        ]
        docs = spark.createDataFrame(cases, "doc_id long, text string")
        gh = {
            r.doc_id: list(r.gh)
            for r in docs.selectExpr(
                "doc_id",
                f"CASE WHEN size(split(text, ' ')) >= {k} THEN "
                f"transform(sequence(0, size(split(text, ' ')) - {k}), "
                f"i -> xxhash64(array_join(slice(split(text, ' '), i + 1, {k}), ' ')))"
                " ELSE array() END AS gh",
            ).collect()
            if len(r.gh) > 0
        }
        want = {
            (d, p, h)
            for d, hs in gh.items()
            for (p, h) in _winnow_reference(hs, w)
        }
        got = {
            (r.doc_id, r.pos, r.fp)
            for r in winnow_fingerprints(docs, k=k, w=w).collect()
        }
        assert got == want, (k, w)


def test_char_entropy_random_differential(spark):
    import math
    import random
    from collections import Counter

    from dask_traj_spark.functions.text import LP_GRID, char_entropy

    rng = random.Random(3)
    cases = [
        (i, "".join(rng.choice("abcdef ") for _ in range(rng.randint(1, 120))))
        for i in range(25)
    ]
    docs = spark.createDataFrame(cases, "doc_id long, text string")
    got = {r.doc_id: r.entropy for r in char_entropy(docs).collect()}
    for i, t in cases:
        n = len(t)
        want = 0.0
        for _c, cnt in Counter(t).items():
            p = cnt / n
            # HALF_UP like the engines (Python round is banker's)
            want -= math.floor(p * math.log(p) * LP_GRID + 0.5) / LP_GRID
        assert got[i] == want, (i, t)


def test_pagerank_random_graph_differential(spark):
    import random

    from dask_traj_spark.functions.text import LP_GRID
    from dask_traj_spark.operators.graph import DAMPING, pagerank

    rng = random.Random(11)
    for trial in range(3):
        n_v = rng.randint(4, 12)
        e = sorted(
            {
                (rng.randrange(n_v), rng.randrange(n_v))
                for _ in range(rng.randint(n_v, 3 * n_v))
            }
        )
        edges = spark.createDataFrame(e, "src long, dst long")
        verts = sorted({a for a, _ in e} | {b for _, b in e})
        deg = {v: sum(1 for a, _ in e if a == v) for v in verts}
        n = len(verts)
        import math

        p = {v: 1.0 / n for v in verts}
        for _ in range(6):
            acc = {v: 0.0 for v in verts}
            for a, b in e:
                acc[b] += (
                    math.floor(((DAMPING * p[a]) / deg[a]) * LP_GRID + 0.5)
                    / LP_GRID
                )
            p = {v: (1.0 - DAMPING) / n + acc[v] for v in verts}
        got = {
            r.vertex: r.pagerank for r in pagerank(edges, n_iter=6).collect()
        }
        assert got == p, (trial, e)


def _n_persistent(spark) -> int:
    return spark._jsc.getPersistentRDDs().size()


def test_release_local_checkpoint_frees_blocks(spark):
    from pyspark.sql import functions as F

    from dask_traj_spark.session import release_local_checkpoint

    before = _n_persistent(spark)
    df = spark.range(50).select((F.col("id") * 3).alias("x"))
    ck = df.localCheckpoint(eager=True)
    assert _n_persistent(spark) == before + 1
    # non-checkpoint plans are refused, not released
    assert release_local_checkpoint(df) is False
    assert release_local_checkpoint(None) is False
    assert release_local_checkpoint(ck) is True
    assert _n_persistent(spark) == before


def test_pagerank_releases_superseded_round_state(spark):
    """The loop checkpoints every round; all but the FINAL round's
    blocks (plus static state once the result no longer references
    it) must be released — a long-lived session running many ranks
    would otherwise pin one cache per round forever."""
    from dask_traj_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)] + [(3, 7), (9, 2)],
        "src long, dst long",
    )
    for kwargs in (
        {"n_iter": 6},
        {"n_iter": 30, "tol": 1.0 / 1024},
        {"n_iter": 5, "dangling": "redistribute"},
    ):
        before = _n_persistent(spark)
        out = pagerank(edges, damping=0.5, **kwargs)
        assert out.count() == 12
        # only the final round's checkpoint may remain pinned
        assert _n_persistent(spark) <= before + 1, kwargs


def test_dup_components_releases_superseded_round_state(spark):
    from pyspark.sql import functions as F

    from dask_traj_spark.operators.dedup import dup_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 20, 2)] + [(1, 3), (5, 7)],
        "id1 long, id2 long",
    )
    nodes = spark.range(22).select(F.col("id").alias("doc_id"))
    before = _n_persistent(spark)
    comp = dup_components(pairs, nodes)
    assert comp.count() == 22
    # final label checkpoint only — per-round labels and the edge
    # table are released as they are superseded
    assert _n_persistent(spark) <= before + 1


def test_pack_sequences_cache_is_tracked(spark):
    """The packing prefix-sum's persist must register with the
    central registry so long-lived sessions can release it (it was
    the one untracked corpus-sized persist)."""
    from dask_traj_spark import session as ds
    from dask_traj_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(i, "a few words here " * (i % 3 + 1)) for i in range(12)],
        "doc_id long, text string",
    )
    before = len(ds._TRACKED_CACHES)
    out = pack_sequences(docs, budget=8)
    out.count()  # fully materialize BEFORE release (packing contract)
    assert len(ds._TRACKED_CACHES) > before
    assert ds.release_caches() >= 1 and not ds._TRACKED_CACHES


def test_bpe_train_releases_superseded_round_state(spark):
    from dask_traj_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(i, "low lower lowest newer new") for i in range(6)],
        "doc_id long, text string",
    )
    before = _n_persistent(spark)
    merges, seg = bpe_train(docs, n_merges=4)
    assert len(merges) == 4 and seg.count() > 0
    # the returned segmented table's final checkpoint only
    assert _n_persistent(spark) <= before + 1


# ------------------------------------------------------ t24 heaps law


def test_heaps_law_matches_python_reference(spark):
    import math
    import random

    from dask_traj_spark.functions.text import LP_GRID, heaps_law

    rng = random.Random(5)
    rows = []
    for i in range(18):
        n = rng.randint(3, 40)
        rows.append(
            (i, " ".join(rng.choice("abcdefghijkl") + rng.choice("xyz")
                          for _ in range(n)), f"s{i % 2}")
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    def snap(v: float) -> float:
        return math.floor(v * LP_GRID + 0.5) / LP_GRID

    want = {}
    for src in ("s0", "s1"):
        seen: set[str] = set()
        n_cum = 0
        xs, ys = [], []
        for i, text, s in sorted(rows):
            if s != src:
                continue
            ws = text.split(" ")
            n_cum += len(ws)
            seen.update(ws)
            xs.append(snap(math.log(n_cum)))
            ys.append(snap(math.log(len(seen))))
        m = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(snap(x * y) for x, y in zip(xs, ys))
        sxx = sum(snap(x * x) for x in xs)
        beta = (sxy - sx * sy / m) / (sxx - sx * sx / m)
        want[src] = (m, beta, (sy - beta * sx) / m)
    got = {
        r.source: (r.n_docs, r.beta, r.ln_k)
        for r in heaps_law(docs).collect()
    }
    assert got == want
    # natural-ish random text: sublinear vocabulary growth
    assert all(0.0 < b < 1.0 for (_m, b, _k) in got.values())


def test_heaps_law_degenerate_sources(spark):
    """A one-word source grows no vocabulary (β ≈ 0); a source of
    all-new words grows linearly (β ≈ 1)."""
    from dask_traj_spark.functions.text import heaps_law

    rows = [(i, "same same same same", "flat") for i in range(6)]
    rows += [
        (10 + i, " ".join(f"u{i}_{j}" for j in range(4)), "fresh")
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r.beta for r in heaps_law(docs).collect()}
    assert abs(got["flat"]) < 1e-9
    assert abs(got["fresh"] - 1.0) < 1e-6


# ------------------------------------------------------ t25 zipf slope


def test_zipf_slope_matches_python_reference_and_extremes(spark):
    import math
    from collections import Counter

    from dask_traj_spark.functions.text import LP_GRID, zipf_slope

    # zipfy source: word w_k appears ~N/k times; flat source: every
    # word exactly twice (slope exactly 0)
    zipfy = []
    for k in range(1, 13):
        zipfy += [f"w{k:02d}"] * (60 // k)
    rows = [(1, " ".join(zipfy), "zipfy"),
            (2, " ".join(f"u{j}" for j in range(20)) + " "
                + " ".join(f"u{j}" for j in range(20)), "flat")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in zipf_slope(docs, max_rank=50).collect()}

    def snap(v: float) -> float:
        return math.floor(v * LP_GRID + 0.5) / LP_GRID

    # python reference for the zipfy source
    cnt = Counter(zipfy)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    xs = [snap(math.log(r + 1)) for r in range(len(ranked))]
    ys = [snap(math.log(c)) for _w, c in ranked]
    m = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(snap(x * y) for x, y in zip(xs, ys))
    sxx = sum(snap(x * x) for x in xs)
    beta = (sxy - sx * sy / m) / (sxx - sx * sx / m)
    assert got["zipfy"].slope == beta
    assert -1.4 < got["zipfy"].slope < -0.6  # near the Zipf ideal
    # uniform counts: flat up to the per-term 2^-21 snapping noise
    assert abs(got["flat"].slope) < 1e-5
    assert got["flat"].n_terms == 20


# ------------------------------------- t26 top-n-gram char fraction


def test_top_ngram_char_fraction_pinned(spark):
    """Hand-computed Gopher top-2-gram fractions, the count tie-break
    (smallest gram wins) and the shorter-than-n zero row."""
    from dask_traj_spark.functions.text import top_ngram_char_fraction

    rows = [
        (1, "a b a b a b c"),          # "a b" x3 of 13 chars
        (2, "x y x y z w z w"),        # "x y" x2 ties "z w" x2 -> "x y"
        (3, "solo"),                   # < n tokens -> zero row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in top_ngram_char_fraction(docs, n=2).collect()}
    assert (got[1].top_gram, got[1].gram_count) == ("a b", 3)
    assert got[1].char_frac == 3 * 3 / 13
    assert (got[2].top_gram, got[2].gram_count) == ("x y", 2)
    assert (got[3].top_gram, got[3].gram_count, got[3].char_frac) == ("", 0, 0.0)


def test_top_ngram_char_fraction_n1_and_validation(spark):
    from dask_traj_spark.functions.text import top_ngram_char_fraction

    docs = spark.createDataFrame(
        [(1, "dog cat dog")], "doc_id long, text string"
    )
    r = top_ngram_char_fraction(docs, n=1).collect()[0]
    assert (r.top_gram, r.gram_count) == ("dog", 2)
    assert r.char_frac == 2 * 3 / 11
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n must be"):
        top_ngram_char_fraction(docs, n=0)


# ------------------------------------- t27 dup-n-gram char coverage


def test_dup_ngram_char_fraction_pinned(spark):
    """Hand-computed interval unions: disjoint islands, merged
    overlapping islands, no-dup zero, shorter-than-n zero."""
    from dask_traj_spark.functions.text import dup_ngram_char_fraction

    rows = [
        # "a b c d e" at pos 0 and 6: islands [0,9) + [12,21) of 21
        (1, "a b c d e X a b c d e"),
        # dup 5-grams at pos 0,1 and 6,7: merged islands [0,11) + [12,23)
        (2, "a b c d e f a b c d e f"),
        # no within-doc duplicate 5-gram
        (3, "p q r s t u v w"),
        # shorter than n
        (4, "tiny doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dup_ngram_char_fraction(docs, n=5).collect()}
    assert (got[1].n_chars, got[1].dup_chars) == (21, 18)
    assert got[1].dup_frac == 18 / 21
    assert (got[2].n_chars, got[2].dup_chars) == (23, 22)
    assert got[2].dup_frac == 22 / 23
    assert (got[3].dup_chars, got[3].dup_frac) == (0, 0.0)
    assert (got[4].dup_chars, got[4].dup_frac) == (0, 0.0)


def test_dup_ngram_char_fraction_validation(spark):
    import pytest as _pytest

    from dask_traj_spark.functions.text import dup_ngram_char_fraction

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="n must be"):
        dup_ngram_char_fraction(docs, n=0)


# ------------------------------------- d19 soft dedup weights


def test_soft_dedup_weights_pinned_and_conservation(spark):
    """Chain cluster {1,2,3} gets weight 1/3 each; singletons keep
    weight 1; Σ weight == number of distinct clusters (the
    conservation law that makes soft dedup epoch-neutral)."""
    from dask_traj_spark.operators.dedup import soft_dedup_weights

    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id1 long, id2 long")
    rows = {r.doc_id: r for r in soft_dedup_weights(pairs, nodes).collect()}
    assert len(rows) == 5
    for d in (1, 2, 3):
        assert rows[d].component == 1
        assert rows[d].cluster_size == 3
        assert rows[d].weight == 1 / 3
    for d in (4, 5):
        assert rows[d].component == d
        assert rows[d].cluster_size == 1
        assert rows[d].weight == 1.0
    n_clusters = len({r.component for r in rows.values()})
    assert abs(sum(r.weight for r in rows.values()) - n_clusters) < 1e-12


# ------------------------------------- v9 filtered vector search


def test_cosine_topk_filtered_prefilter_semantics(spark):
    """Filtered top-k returns only corpus vectors satisfying the
    predicate, k of them (pre-filter, not post-filter), and equals
    brute-force top-k over the pre-filtered corpus."""
    import random

    from dask_traj_spark.operators.similarity import cosine_topk

    rng = random.Random(9)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = cosine_topk(emb, [0, 1], k=5, corpus_filter="label = 2").collect()
    allowed = {i for i, _v, l in rows if l == 2}
    assert {r.vec_id for r in got} <= allowed
    # pre-filter: full k per query even though the filter removed 2/3
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append(r)
    assert {len(v) for v in by_q.values()} == {5}
    # equals brute-force top-k over the manually pre-filtered corpus
    # (queries added back so the lookup finds them; they are then
    # dropped from the ranking, and the per-query ORDER must match)
    manual = cosine_topk(
        emb.where(F.col("label") == 2).unionByName(
            emb.where(F.col("vec_id").isin([0, 1]))
        ).distinct(),
        [0, 1],
        k=7,  # headroom: the 2 query vecs may occupy ranks
    ).collect()
    man_by_q: dict[int, list[int]] = {}
    for r in sorted(manual, key=lambda r: (r.qid, r.rank)):
        if r.vec_id in allowed:
            man_by_q.setdefault(r.qid, []).append(r.vec_id)
    for qid, rows_q in by_q.items():
        ordered = [r.vec_id for r in sorted(rows_q, key=lambda r: r.rank)]
        assert man_by_q[qid][:5] == ordered, (qid, man_by_q[qid][:5], ordered)


# ------------------------------------- m15 audio clipping QC


class TestAudioClipping:
    def test_pinned_runs_and_counts(self, spark):
        import numpy as np

        from dask_traj_spark.operators.multimodal import (
            audio_clipping,
            encode_wav,
        )

        # |s| >= 1000 clips: run of 3, gap, run of 2, isolated peak
        s = np.array(
            [2000, -3000, 1500, 10, -20, 1000, -1000, 0, 5000, 0],
            dtype=np.int16,
        )
        payload = encode_wav(s)
        df = spark.createDataFrame(
            [(7, "audio/wav", bytearray(payload), len(payload))],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        r = audio_clipping(df, threshold=1000).collect()[0]
        assert r.n_samples == 10
        assert r.peak == 5000
        assert r.clipped == 6
        assert r.max_clip_run == 3
        assert r.clip_frac == 6 / 10

    def test_no_clipping_and_validation(self, spark):
        import numpy as np
        import pytest as _pytest

        from dask_traj_spark.operators.multimodal import (
            audio_clipping,
            encode_wav,
        )

        s = np.array([1, -2, 3, -4], dtype=np.int16)
        payload = encode_wav(s)
        df = spark.createDataFrame(
            [(1, "audio/wav", bytearray(payload), len(payload))],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        r = audio_clipping(df, threshold=100).collect()[0]
        assert (r.clipped, r.max_clip_run, r.clip_frac) == (0, 0, 0.0)
        with _pytest.raises(ValueError, match="threshold"):
            audio_clipping(df, threshold=0)

    def test_rejects_non_wav(self, spark):
        import pytest as _pytest

        from dask_traj_spark.operators.multimodal import audio_clipping

        df = spark.createDataFrame(
            [(1, "audio/mp3", bytearray(b"ID3"), 3)],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        with _pytest.raises(Exception, match="PCM WAV"):
            audio_clipping(df).collect()


# ------------------------------------- d20 cross-corpus near-dup


def test_cross_corpus_neardup_bipartite_only(spark):
    """Identical text across corpora pairs at jaccard 1.0; identical
    text WITHIN one corpus never pairs (bipartite, not self-join);
    unrelated ref docs match nothing."""
    from dask_traj_spark.operators.dedup import cross_corpus_neardup

    t = "the quick brown fox jumps over the lazy dog today"
    docs = spark.createDataFrame(
        [(0, t), (1, t), (2, "completely different words entirely here")],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(100, t), (200, "nothing shared with anyone at all ever")],
        "doc_id long, text string",
    )
    got = cross_corpus_neardup(docs, ref, threshold=0.9).collect()
    pairs = {(r.doc_id, r.ref_id): r.jaccard for r in got}
    assert pairs == {(0, 100): 1.0, (1, 100): 1.0}


def test_cross_corpus_neardup_union_vocab_sorted_mode(spark):
    """id_mode='sorted' must rank the vocab over the UNION — a word
    appearing only in the ref corpus still gets a consistent tid, so
    a cross pair's jaccard equals the hand-computed token-set value."""
    from dask_traj_spark.operators.dedup import cross_corpus_neardup

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "doc_id long, text string"
    )
    ref = spark.createDataFrame(
        [(5, "alpha beta gamma zeta")], "doc_id long, text string"
    )
    got = cross_corpus_neardup(docs, ref, threshold=0.1, id_mode="sorted").collect()
    # |∩| = 3 (alpha beta gamma), |∪| = 5
    assert len(got) == 1 and got[0].jaccard == 3 / 5


# ------------------------------------- d21 cross-corpus matches


def test_cross_corpus_matches_pinned(spark):
    """A 10-token run shared train↔benchmark reports at full length
    with both start positions; a run shared only WITHIN the training
    corpus is never reported; ngram-boundary exactness holds."""
    from dask_traj_spark.operators.dedup import cross_corpus_matches

    run = "q w e r t y u i o p"  # the 10-token shared run
    docs = spark.createDataFrame(
        [
            (0, f"a b c {run} z1 z2"),     # contains run at pos 3
            (1, f"{run} k1 k2 k3 k4 k5"),  # same run at pos 0 (train-only pair w/ 0)
        ],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(9, f"h1 h2 {run} h3")],  # benchmark contains run at pos 2
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.ref_id, r.start_doc, r.start_ref, r.match_tokens)
        for r in cross_corpus_matches(docs, ref, ngram=8, key_mode="exact").collect()
    )
    assert got == [(0, 9, 3, 2, 10), (1, 9, 0, 2, 10)]


def test_cross_corpus_matches_cap_and_none(spark):
    """No shared ≥ngram run → empty; the occurrence cap counts the
    UNION (a key at cap+1 total occurrences is dropped)."""
    from dask_traj_spark.operators.dedup import cross_corpus_matches

    run = "c1 c2 c3 c4 c5 c6 c7 c8"
    docs = spark.createDataFrame(
        [(i, f"x{i} {run} y{i}") for i in range(3)],  # 3 train occurrences
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(50, f"p {run} q")], "doc_id long, text string"
    )
    # union occurrences = 4 > max_occ=3 -> the anchor is dropped
    assert (
        cross_corpus_matches(docs, ref, ngram=8, max_occ=3, key_mode="exact").count()
        == 0
    )
    # no overlap at all
    ref2 = spark.createDataFrame(
        [(60, "entirely unrelated words only here now for sure ok")],
        "doc_id long, text string",
    )
    assert cross_corpus_matches(docs, ref2, ngram=8, key_mode="exact").count() == 0


# ------------------------------------- v10 kNN label vote


def test_knn_classify_majority_and_tiebreak(spark):
    """Constructed neighborhoods: a clear majority wins; a vote tie
    goes to the smallest label; mean_cos averages only the winning
    label's voters."""
    from dask_traj_spark.operators.similarity import knn_classify

    # query 0 at origin-ish; 4 close label-1 vecs, 2 close label-2
    # vecs, distant label-9 vecs that must not enter the top-6
    rows = [(0, [1.0, 0.0], 5)]
    rows += [(10 + i, [1.0, 0.01 * (i + 1)], 1) for i in range(4)]
    rows += [(20 + i, [1.0, 0.3 + 0.01 * i], 2) for i in range(2)]
    rows += [(30 + i, [-1.0, 0.5], 9) for i in range(3)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    r = knn_classify(emb, [0], k=6).collect()[0]
    assert (r.qid, r.pred_label, r.votes) == (0, 1, 4)
    assert 0.9 < r.mean_cos <= 1.0
    # tie case: 3 votes each for labels 4 and 7 -> label 4 wins
    rows2 = [(0, [1.0, 0.0], 5)]
    rows2 += [(1 + i, [1.0, 0.02 * i], 4) for i in range(3)]
    rows2 += [(11 + i, [1.0, 0.02 * i], 7) for i in range(3)]
    emb2 = spark.createDataFrame(
        rows2, "vec_id long, embedding array<float>, label int"
    )
    r2 = knn_classify(emb2, [0], k=6).collect()[0]
    assert (r2.pred_label, r2.votes) == (4, 3)


def test_knn_classify_rejects_non_integral_labels(spark):
    """A string label_col must raise, not silently cast to NULL
    (ADVICE r10): categorical labels are mapped to ids upstream."""
    import pytest

    from dask_traj_spark.operators.similarity import knn_classify

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], "news"), (1, [1.0, 0.1], "spam")],
        "vec_id long, embedding array<float>, label string",
    )
    with pytest.raises(ValueError, match="must be integral"):
        knn_classify(emb, [0], k=1)
    # absent label_col: a named ValueError, not an opaque KeyError
    # from schema[...] (ADVICE r11)
    with pytest.raises(ValueError, match="not found"):
        knn_classify(emb, [0], k=1, label_col="labell")


# ------------------------------------- c15 budget selection


def test_budget_select_prefix_rule(spark):
    """The greedy prefix: best-quality docs select until the budget
    is crossed, then NOTHING after (no skip-and-backfill), per
    stratum independently; budget 0 selects nothing."""
    from dask_traj_spark.operators.curation import budget_select

    # quality rises with distinct-ratio; craft docs whose ordering
    # is known: repetitive (low q) vs distinct-rich (high q)
    rows = [
        (1, "the a of and is to in zz yy xx", "s1"),     # stopword-rich, high q
        (2, "w w w w w w w w w w", "s1"),                # repetitive, low q
        (3, "the a of and is to in qq rr ss", "s1"),     # like 1, high q
        (4, "unique words here make quality strong the a", "s2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.doc_id: r for r in budget_select(docs, budget_tokens=20).collect()}
    assert len(got) == 4
    # s1: two 10-token high-q docs fit exactly; the low-q one crosses
    assert got[1].selected == 1 and got[3].selected == 1
    assert got[2].selected == 0
    assert got[2].cum_tokens == 30
    # s2 has its own budget
    assert got[4].selected == 1
    got0 = budget_select(docs, budget_tokens=0).collect()
    assert all(r.selected == 0 for r in got0)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="budget_tokens"):
        budget_select(docs, budget_tokens=-1)


# ------------------------------------- m16 perceptual image hash


class TestPerceptualHash:
    def _bmp_df(self, spark, rows):
        from dask_traj_spark.operators.multimodal import encode_bmp

        data = [
            (i, "image/bmp", bytearray(encode_bmp(7, 2, bytes(px))), 0)
            for i, px in rows
        ]
        return spark.createDataFrame(
            data, "doc_id long, kind string, payload binary, n_bytes long"
        )

    def test_hand_computed_hash_and_uniform_zero(self, spark):
        from dask_traj_spark.operators.multimodal import perceptual_hash

        # image A: pixel (0,0) bright white, everything else black ->
        # only cell 0 above the mean -> ph = 1
        a = [255, 255, 255] + [0] * 39
        # uniform image: no cell STRICTLY above the mean -> ph = 0
        u = [77] * 42
        out = {
            r.doc_id: r.ph
            for r in perceptual_hash(
                self._bmp_df(spark, [(1, a), (2, u)]), 4, 2
            ).collect()
        }
        assert out == {1: 1, 2: 0}

    def test_neardup_pairs_hamming(self, spark):
        from dask_traj_spark.operators.multimodal import image_neardup_pairs

        base = [200, 200, 200] * 7 + [0] * 21  # bright row 0, dark row 1
        twin = list(base)
        twin[0] = 190  # visually identical -> same cells win
        flip = list(base)
        # darken pixel (0,0) hard: cell 0 flips below the mean
        flip[0:3] = [0, 0, 0]
        df = self._bmp_df(spark, [(1, base), (2, twin), (3, flip)])
        p0 = {
            (r.doc1, r.doc2): r.hamming
            for r in image_neardup_pairs(df, k=0).collect()
        }
        assert p0 == {(1, 2): 0}
        p1 = {
            (r.doc1, r.doc2): r.hamming
            for r in image_neardup_pairs(df, k=1).collect()
        }
        assert p1[(1, 2)] == 0 and p1[(1, 3)] == 1 and p1[(2, 3)] == 1

    def test_rejects_non_image_and_bad_grid(self, spark):
        import pytest as _pytest

        from dask_traj_spark.operators.multimodal import perceptual_hash

        df = spark.createDataFrame(
            [(1, "audio/wav", bytearray(b"RIFF"), 4)],
            "doc_id long, kind string, payload binary, n_bytes long",
        )
        with _pytest.raises(Exception, match="no real decoder"):
            perceptual_hash(df).collect()
        with _pytest.raises(ValueError, match="grid"):
            perceptual_hash(df, grid_w=0)
        with _pytest.raises(ValueError, match="signed long"):
            perceptual_hash(df, grid_w=8, grid_h=8)


# ------------------------------------- t28 tokenizer fertility


def test_tokenizer_fertility_pinned(spark):
    """Hand-built segmentation: fertility ratios are exact integer
    divisions; a shredded source reads higher tokens_per_word."""
    from dask_traj_spark.operators.bpe import tokenizer_fertility

    docs = spark.createDataFrame(
        [
            (1, "aa bb", "whole"),     # both words 1 token
            (2, "cc dd", "shredded"),  # both words 2 tokens
        ],
        "doc_id long, text string, source string",
    )
    seg = spark.createDataFrame(
        [
            ("aa", ["aa"]), ("bb", ["bb"]),
            ("cc", ["c", "c"]), ("dd", ["d", "d"]),
        ],
        "word string, syms array<string>",
    )
    got = {r.source: r for r in tokenizer_fertility(docs, seg).collect()}
    w, s = got["whole"], got["shredded"]
    assert (w.n_docs, w.n_chars, w.n_words, w.n_bpe_tokens) == (1, 5, 2, 2)
    assert w.tokens_per_word == 1.0 and w.chars_per_token == 5 / 2
    assert (s.n_bpe_tokens, s.tokens_per_word) == (4, 2.0)
    assert s.chars_per_token == 5 / 4


# ------------------------------------- v11 embedding diversity


def test_embedding_diversity_matches_pairwise_reference(spark):
    """The |Σu|² identity equals the brute-force mean pairwise cosine
    (within the 2^-20 snapping tolerance); identical vectors → ~1;
    an orthogonal pair → ~0; singleton strata are dropped."""
    import itertools
    import math

    from dask_traj_spark.operators.similarity import embedding_diversity

    rows = [
        # label 0: three identical vectors -> mean cos ~ 1
        (0, [1.0, 2.0, 2.0], 0), (1, [1.0, 2.0, 2.0], 0),
        (2, [1.0, 2.0, 2.0], 0),
        # label 1: an orthogonal pair -> mean cos ~ 0
        (3, [1.0, 0.0, 0.0], 1), (4, [0.0, 1.0, 0.0], 1),
        # label 2: a mixed trio, checked against brute force
        (5, [1.0, 1.0, 0.0], 2), (6, [1.0, 0.0, 1.0], 2),
        (7, [0.5, 0.25, 0.75], 2),
        # label 3: singleton -> dropped
        (8, [1.0, 1.0, 1.0], 3),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r.label: r for r in embedding_diversity(emb).collect()}
    assert set(got) == {0, 1, 2}
    assert abs(got[0].mean_pairwise_cos - 1.0) < 1e-4
    assert abs(got[1].mean_pairwise_cos) < 1e-4

    def snap12(x):
        return math.floor(x * 4096 + 0.5) / 4096

    vecs = [[snap12(x) for x in v] for _i, v, l in rows if l == 2]
    norm = [math.sqrt(sum(x * x for x in v)) for v in vecs]
    un = [[x / n for x in v] for v, n in zip(vecs, norm)]
    cos = [
        sum(a * b for a, b in zip(u1, u2))
        for u1, u2 in itertools.combinations(un, 2)
    ]
    want = sum(cos) / len(cos)
    assert abs(got[2].mean_pairwise_cos - want) < 1e-4
    assert got[2].n_vectors == 3


# --------------------------- session-6 review-fix regressions


def test_cross_corpus_ops_handle_negative_ids(spark):
    """Negative doc_ids (legal longs) must survive the side-tagging:
    Spark's sign-keeping % would silently drop negative odd sids and
    `div` would mis-decode them (review finding; fixed with pmod +
    floor division)."""
    from dask_traj_spark.operators.dedup import (
        cross_corpus_matches,
        cross_corpus_neardup,
    )

    t = "the quick brown fox jumps over the lazy dog today"
    docs = spark.createDataFrame([(-5, t)], "doc_id long, text string")
    ref = spark.createDataFrame([(-7, t)], "doc_id long, text string")
    nd = cross_corpus_neardup(docs, ref, threshold=0.9).collect()
    assert [(r.doc_id, r.ref_id, r.jaccard) for r in nd] == [(-5, -7, 1.0)]
    cm = cross_corpus_matches(docs, ref, ngram=8, key_mode="exact").collect()
    assert [(r.doc_id, r.ref_id, r.match_tokens) for r in cm] == [(-5, -7, 10)]


def test_embedding_diversity_ignores_zero_norm_vectors(spark):
    """A zero vector carries no direction: it must be excluded from
    BOTH the sums and the count (review finding: it vanished from the
    sums but still inflated n)."""
    from dask_traj_spark.operators.similarity import embedding_diversity

    emb = spark.createDataFrame(
        [
            (0, [1.0, 2.0, 2.0], 0),
            (1, [1.0, 2.0, 2.0], 0),
            (2, [0.0, 0.0, 0.0], 0),  # zero-norm: ignored
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = embedding_diversity(emb).collect()
    assert len(got) == 1
    assert got[0].n_vectors == 2
    assert abs(got[0].mean_pairwise_cos - 1.0) < 1e-4


def test_audio_clipping_per_channel_runs(spark):
    """A sustained single-channel rail-hit in interleaved stereo must
    report its full run length, not alternating singles (review
    finding)."""
    import numpy as np

    from dask_traj_spark.operators.multimodal import (
        audio_clipping,
        encode_wav,
    )

    # 6 frames stereo: left channel clipped for 5 consecutive frames,
    # right channel quiet throughout
    frames = [(30000, 10)] * 5 + [(0, 10)]
    s = np.array([v for fr in frames for v in fr], dtype=np.int16)
    payload = encode_wav(s, n_channels=2)
    df = spark.createDataFrame(
        [(1, "audio/wav", bytearray(payload), len(payload))],
        "doc_id long, kind string, payload binary, n_bytes long",
    )
    r = audio_clipping(df, threshold=20000).collect()[0]
    assert r.clipped == 5
    assert r.max_clip_run == 5  # interleaving would have read 1


def test_dup_ngram_char_fraction_empty_text(spark):
    """Empty text is a defined 0.0 fraction, not NULL/NaN (review
    finding)."""
    from dask_traj_spark.functions.text import dup_ngram_char_fraction

    docs = spark.createDataFrame(
        [(1, ""), (2, "a b c d e a b c d e f")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dup_ngram_char_fraction(docs, n=5).collect()}
    assert (got[1].n_chars, got[1].dup_chars, got[1].dup_frac) == (0, 0, 0.0)
    assert got[2].dup_frac > 0


def test_pagerank_checkpoint_batching_is_value_invariant(spark):
    """r13: fixed-count leak rounds batch 2 per checkpoint job
    (VERDICT r12 item 5).  Checkpointing is materialization only —
    every checkpoint_every (including an odd n_iter tail) must
    produce bit-identical ranks; redistribute mode clamps batching
    back to per-round (its triple rank reference re-executes under
    batching), which must also be invisible in the values."""
    from dask_traj_spark.operators.graph import pagerank

    e = [(i, (i + 1) % 9) for i in range(9)] + [(i, (i + 4) % 9) for i in range(6)]
    edges = spark.createDataFrame(e, "src long, dst long")
    base = sorted(
        (r.vertex, r.pagerank)
        for r in pagerank(edges, n_iter=7, checkpoint_every=1).collect()
    )
    for k in (2, 3, 7):
        got = sorted(
            (r.vertex, r.pagerank)
            for r in pagerank(edges, n_iter=7, checkpoint_every=k).collect()
        )
        assert got == base, k
    dang1 = sorted(
        (r.vertex, r.pagerank)
        for r in pagerank(
            edges, n_iter=5, checkpoint_every=1, dangling="redistribute"
        ).collect()
    )
    dang2 = sorted(
        (r.vertex, r.pagerank)
        for r in pagerank(
            edges, n_iter=5, checkpoint_every=2, dangling="redistribute"
        ).collect()
    )
    assert dang1 == dang2
