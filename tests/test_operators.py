"""Unit tests for the custom operators on tiny hand-built frames — edge
cases the suite's fixture queries don't isolate."""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest
from pyspark.sql import functions as F

from data_etl_with_dbt_spark.operators.dedup import (
    dedup_exact,
    exact_duplicate_groups,
    incremental_minhash_dedup,
    minhash_index_append,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from data_etl_with_dbt_spark.operators.multimodal import (
    default_decoder,
    extract_media_features,
    frame_sample_stub,
    to_media_table,
)
from data_etl_with_dbt_spark.operators.relational import asof_join
from data_etl_with_dbt_spark.operators.similarity import brute_force_topk, cosine_similarity


TS = lambda m, s=0: dt.datetime(2024, 1, 1, 0, m, s)  # noqa: E731


class TestAsofJoin:
    def make(self, spark):
        left = spark.createDataFrame(
            [(1, TS(10), "e1"), (1, TS(20), "e2"), (2, TS(5), "e3"), (3, TS(1), "e4")],
            "k int, t timestamp, tag string",
        )
        right = spark.createDataFrame(
            [(1, TS(9), 100.0), (1, TS(10), 110.0), (1, TS(15), 150.0), (2, TS(6), 200.0)],
            "k int, rt timestamp, px double",
        )
        return left, right

    def test_strict_picks_latest_strictly_before(self, spark):
        left, right = self.make(spark)
        out = asof_join(
            left, right, on="k", left_time="t", right_time="rt", right_payload=["px"], strict=True
        )
        got = {r.tag: r.px for r in out.collect()}
        # e1 @10: candidates 9,10 -> strict excludes 10 -> 100.0
        # e2 @20: latest is 15 -> 150.0; e3 @5: right @6 is later -> None
        assert got == {"e1": 100.0, "e2": 150.0, "e3": None, "e4": None}

    def test_non_strict_includes_equal_time(self, spark):
        left, right = self.make(spark)
        out = asof_join(
            left, right, on="k", left_time="t", right_time="rt", right_payload=["px"], strict=False
        )
        got = {r.tag: r.px for r in out.collect()}
        assert got["e1"] == 110.0  # equal timestamp now matches

    def test_all_left_rows_preserved(self, spark):
        left, right = self.make(spark)
        out = asof_join(left, right, "k", "t", "rt", ["px"])
        assert out.count() == left.count()

    def test_payload_name_collision_gets_suffix(self, spark):
        left = spark.createDataFrame([(1, TS(10), 1.0)], "k int, t timestamp, px double")
        right = spark.createDataFrame([(1, TS(5), 9.0)], "k int, rt timestamp, px double")
        out = asof_join(left, right, "k", "t", "rt", ["px"])
        assert set(out.columns) == {"k", "t", "px", "px_right"}
        row = out.first()
        assert row.px == 1.0 and row.px_right == 9.0


class TestDedup:
    def docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
                (3, "the quick brown fox jumps over the lazy cat"),  # near dup
                (4, "completely different content about spark engines"),
                (5, ""),  # empty doc edge case
            ],
            "id long, text string",
        )

    def test_exact_groups_and_dedup(self, spark):
        d = self.docs(spark)
        groups = exact_duplicate_groups(d, "id", "text")
        dup = groups.where("n_docs > 1").collect()
        assert len(dup) == 1 and dup[0].canonical_id == 1 and dup[0].n_docs == 2
        kept = dedup_exact(d, "id", "text")
        assert sorted(r.id for r in kept.collect()) == [1, 3, 4, 5]

    def test_content_hash_is_md5(self, spark):
        d = self.docs(spark)
        row = exact_duplicate_groups(d, "id", "text").where("canonical_id = 4").first()
        expected = hashlib.md5(b"completely different content about spark engines").hexdigest()
        assert row.content_hash == expected

    def test_minhash_finds_exact_and_near_dup(self, spark):
        pairs = minhash_lsh_pairs(self.docs(spark), "id", "text", 32, 8, 3, threshold=0.5)
        got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
        assert got[(1, 2)] == pytest.approx(1.0)  # exact dup always survives
        assert (1, 4) not in got and (2, 4) not in got

    def test_minhash_arrow_variant_agrees_with_jvm(self, spark):
        """Raw signatures differ by design (crc32 vs xxhash64 families), but
        exact-Jaccard verification makes the shipped pair set identical."""
        kwargs = dict(num_hashes=32, bands=8, shingle=3, threshold=0.5)
        jvm = minhash_lsh_pairs(self.docs(spark), "id", "text", **kwargs)
        arrow = minhash_lsh_pairs(
            self.docs(spark), "id", "text", signature_impl="arrow", **kwargs
        )
        pj = {(r.id_a, r.id_b): r.jaccard for r in jvm.collect()}
        pa = {(r.id_a, r.id_b): r.jaccard for r in arrow.collect()}
        assert pj == pa and (1, 2) in pj

    def test_ngram_jaccard_exact_values(self, spark):
        pairs = ngram_jaccard_pairs(self.docs(spark), "id", "text", n=2, threshold=0.1)
        got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
        assert got[(1, 2)] == pytest.approx(1.0)
        # docs 1 and 3: 8 distinct bigrams each, 7 shared, union 9: J = 7/9
        assert got[(1, 3)] == pytest.approx(7 / 9)

    def test_simhash_identical_docs_equal_fingerprints(self, spark):
        fps = {r.id: r.simhash for r in simhash(self.docs(spark), "id", "text").collect()}
        assert fps[1] == fps[2]
        assert fps[1] != fps[4]

    def test_simhash_near_pairs_contains_exact_dup(self, spark):
        pairs = simhash_near_pairs(self.docs(spark), "id", "text", 32, max_hamming=3)
        got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
        assert got[(1, 2)] == 0

    def test_span_dedup_keep_first_and_reassembly(self, spark):
        import hashlib as _h

        from data_etl_with_dbt_spark.operators.dedup import span_dedup

        docs = spark.createDataFrame(
            [
                (1, "a b c d e f"),          # spans: "a b c", "d e f"
                (2, "a b c x y z"),          # first span duplicates doc 1's
                (3, "a b c d e f"),          # exact dup: loses every span
                (4, "q r"),                  # short tail span survives
            ],
            "id long, text string",
        )
        out = {r.id: r for r in span_dedup(docs, "id", "text", span_tokens=3).collect()}
        assert (out[1].n_spans, out[1].n_spans_kept) == (2, 2)
        assert (out[2].n_spans, out[2].n_spans_kept) == (2, 1)
        assert (out[3].n_spans, out[3].n_spans_kept) == (2, 0)
        assert (out[4].n_spans, out[4].n_spans_kept) == (1, 1)
        assert out[2].kept_hash == _h.md5(b"x y z").hexdigest()
        assert out[3].kept_hash == _h.md5(b"").hexdigest()
        assert out[1].kept_hash == _h.md5(b"a b c d e f").hexdigest()

    def test_ngram_df_prune_drops_all_occurrences(self, spark):
        import hashlib as _h

        from data_etl_with_dbt_spark.operators.dedup import ngram_df_prune

        docs = spark.createDataFrame(
            [
                (1, "a b c d e f"),  # "a b c" appears in docs 1,2,3 -> df=3
                (2, "a b c x y z"),
                (3, "a b c q r s"),
                (4, "u v w"),        # unique span, df=1 -> kept
            ],
            "id long, text string",
        )
        out = {
            r.id: r
            for r in ngram_df_prune(
                docs, "id", "text", span_tokens=3, min_df=3
            ).collect()
        }
        # Unlike keep-first span dedup, the FIRST occurrence is dropped too.
        assert (out[1].n_spans, out[1].n_spans_dropped) == (2, 1)
        assert (out[2].n_spans, out[2].n_spans_dropped) == (2, 1)
        assert (out[3].n_spans, out[3].n_spans_dropped) == (2, 1)
        assert (out[4].n_spans, out[4].n_spans_dropped) == (1, 0)
        assert out[1].kept_hash == _h.md5(b"d e f").hexdigest()
        assert out[4].kept_hash == _h.md5(b"u v w").hexdigest()
        assert out[1].boilerplate_frac == pytest.approx(0.5)
        # df=2 stays below the threshold: nothing dropped at min_df=3 when
        # only two docs share the span
        out2 = {
            r.id: r
            for r in ngram_df_prune(
                docs.where(F.col("id") <= 2), "id", "text", span_tokens=3, min_df=3
            ).collect()
        }
        assert out2[1].n_spans_dropped == 0

    def test_ngram_df_prune_broadcasts_dictionary(self, spark):
        from data_etl_with_dbt_spark.operators.dedup import ngram_df_prune

        docs = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c x y z")], "id long, text string"
        )
        plan = ngram_df_prune(docs, "id", "text")._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestSimilarity:
    def test_cosine_known_values(self, spark):
        df = spark.createDataFrame(
            [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0]), ([1.0, 0.0], [-1.0, 0.0])],
            "a array<double>, b array<double>",
        )
        vals = [r.c for r in df.select(cosine_similarity(F.col("a"), F.col("b")).alias("c")).collect()]
        assert vals[0] == pytest.approx(0.0)
        assert vals[1] == pytest.approx(1.0)
        assert vals[2] == pytest.approx(-1.0)

    def test_brute_force_topk_ranks_and_k(self, spark):
        corpus = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(20)], "vec_id long, embedding array<double>"
        )
        queries = spark.createDataFrame(
            [(0, [1.0, 0.0])], "query_id long, embedding array<double>"
        )
        out = brute_force_topk(corpus, queries, k=5).collect()
        assert len(out) == 5
        # cosine with [1,0] increases with i for [i, 1] vectors
        assert [r.vec_id for r in out] == [19, 18, 17, 16, 15]


class TestMultimodal:
    def test_media_table_schema_and_features(self, spark):
        docs = spark.createDataFrame(
            [(1, "hello world", "src0"), (2, "", "src1")], "doc_id long, text string, source string"
        )
        media = to_media_table(docs, "doc_id", "text", mime="text/plain", source_col="source")
        assert [f.name for f in media.schema.fields] == ["media_id", "content", "meta"]
        feats = {r.media_id: r for r in extract_media_features(media).collect()}
        assert feats[1].n_bytes == 11
        assert feats[1].head_hex == "hello wo".encode().hex()
        assert feats[2].n_bytes == 0
        assert feats[1].feature is None  # decode stubbed

    def test_injected_decoder_runs_in_arrow_batches(self, spark):
        docs = spark.createDataFrame([(1, "abc", "s")], "doc_id long, text string, source string")
        media = to_media_table(docs, "doc_id", "text", "text/plain", "source")
        fake = lambda content, mime: [float(len(content)), 1.0]  # noqa: E731
        row = extract_media_features(media, decoder=fake).first()
        assert row.feature == [3.0, 1.0]

    def test_default_decoder_raises_only_for_exotic_codecs(self):
        with pytest.raises(NotImplementedError):
            default_decoder(b"\x89PNG\r\n", "image/png")

    def test_bmp_codec_round_trip(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import decode_bmp, encode_bmp

        rng = np.random.default_rng(7)
        for w, h in [(3, 2), (4, 4), (5, 3)]:  # width 3/5 exercises row padding
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            assert (decode_bmp(encode_bmp(img)) == img).all()

    def test_ppm_codec_round_trip_and_comments(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import decode_ppm, encode_ppm

        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, (3, 5, 3), dtype=np.uint8)
        assert (decode_ppm(encode_ppm(img)) == img).all()
        # header comments and odd whitespace are legal PPM
        commented = b"P6 # a comment\n# another\n 5\t3\n255\n" + img.tobytes()
        assert (decode_ppm(commented) == img).all()

    def test_wav_codec_round_trip(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import decode_wav, encode_wav

        rng = np.random.default_rng(13)
        for channels in (1, 2):
            pcm = rng.integers(-(2**15), 2**15, (441, channels), dtype=np.int16)
            got, rate = decode_wav(encode_wav(pcm, 44100))
            assert rate == 44100
            assert (got == pcm).all()
        mono = np.array([0, 100, -100], dtype=np.int16)  # 1-D treated as mono
        got, _ = decode_wav(encode_wav(mono, 8000))
        assert (got[:, 0] == mono).all()

    def test_wav_decode_skips_unknown_chunks(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import decode_wav, encode_wav

        pcm = np.array([[1], [2], [3]], dtype=np.int16)
        wav = encode_wav(pcm, 16000)
        # splice a LIST chunk (odd size — exercises word alignment) after WAVE
        extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\0"
        spliced = wav[:12] + extra + wav[12:]
        got, rate = decode_wav(spliced)
        assert rate == 16000
        assert (got == pcm).all()

    def test_audio_features_deterministic_stats(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import audio_features, encode_wav

        # full-scale square wave: rms == peak == 1000, one sign flip per cycle
        pcm = np.tile(np.array([1000] * 4 + [-1000] * 4, dtype=np.int16), 100)
        n, c, rate, dur, rms, peak, zcr = audio_features(pcm, 8000)
        assert (n, c, rate) == (800.0, 1.0, 8000.0)
        assert dur == pytest.approx(0.1)
        assert rms == pytest.approx(1000.0)
        assert peak == 1000.0
        assert zcr == pytest.approx(199 / 800)
        # stereo: channel-mean of (x, -x) is flat zero → rms 0, zcr 0
        stereo = np.stack([pcm, -pcm], axis=1)
        _, c2, _, _, rms2, peak2, zcr2 = audio_features(stereo, 8000)
        assert (c2, rms2, peak2, zcr2) == (2.0, 0.0, 1000.0, 0.0)
        # default_decoder routes RIFF payloads here
        assert default_decoder(encode_wav(pcm, 8000), "audio/wav")[4] == pytest.approx(1000.0)

    def test_default_decoder_decodes_images_and_text(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import encode_bmp, encode_ppm

        img = np.full((2, 2, 3), 10, dtype=np.uint8)
        for payload in (encode_bmp(img), encode_ppm(img)):
            w, h, c, mr, mg, mb, gray = default_decoder(payload, "image/x-any")
            assert (w, h, c) == (2.0, 2.0, 3.0)
            assert mr == mg == mb == gray == 10.0
        n, mean, printable = default_decoder(b"ab\x01", "text/plain")
        assert n == 3.0
        assert mean == pytest.approx((97 + 98 + 1) / 3)
        assert printable == pytest.approx(2 / 3)

    def test_media_pipeline_decodes_real_bmp_via_mapinpandas(self, spark):
        """End-to-end: binary BMP payloads flow through the Arrow batches and
        come back decoded with no injected test decoder."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import encode_bmp

        img = np.full((4, 3, 3), 200, dtype=np.uint8)
        payload = encode_bmp(img)
        media = spark.createDataFrame(
            [(1, bytearray(payload))], "media_id long, content binary"
        ).select(
            "media_id",
            "content",
            F.struct(
                F.lit("image/bmp").alias("mime"),
                F.octet_length("content").cast("long").alias("n_bytes"),
                F.lit("test").alias("source"),
            ).alias("meta"),
        )
        row = extract_media_features(media, decoder=default_decoder).first()
        assert row.feature[:3] == [3.0, 4.0, 3.0]
        assert row.feature[3:] == [200.0] * 4

    def test_resize_image_nearest_neighbor_exact(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import resize_image

        # 4x4 with distinct values: NN at pixel centers picks rows/cols 1,3
        img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
        out = resize_image(img, 2, 2)
        assert out.shape == (2, 2, 3)
        assert (out == img[[1, 3]][:, [1, 3]]).all()
        # upsample replicates: every source pixel appears in a 2x2 block
        up = resize_image(img, 8, 8)
        assert (up[0:2, 0:2] == img[0, 0]).all()

    def test_resize_media_roundtrip_and_passthrough(self, spark):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            decode_bmp,
            encode_bmp,
            encode_wav,
            resize_media,
        )

        img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
        wav = encode_wav([0, 1000, -1000], 8000)
        media = spark.createDataFrame(
            [(1, bytearray(encode_bmp(img)), "image/bmp"),
             (2, bytearray(wav), "audio/wav")],
            "media_id long, content binary, mime string",
        ).select(
            "media_id",
            "content",
            F.struct(
                F.col("mime").alias("mime"),
                F.octet_length("content").cast("long").alias("n_bytes"),
                F.lit("test").alias("source"),
            ).alias("meta"),
        )
        out = {r.media_id: r for r in resize_media(media, 2, 2).collect()}
        resized = decode_bmp(bytes(out[1].content))
        assert resized.shape == (2, 2, 3)
        assert (resized == img[[1, 3]][:, [1, 3]]).all()
        assert out[1].meta.mime == "image/bmp"
        assert out[1].meta.n_bytes == len(bytes(out[1].content))
        # the audio row passes through byte-identical
        assert bytes(out[2].content) == wav
        assert out[2].meta.mime == "audio/wav"

    def test_resize_media_png_output_format(self, spark):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            decode_png,
            encode_ppm,
            resize_media,
            _to_rgb3,
        )

        img = np.arange(6 * 6 * 3, dtype=np.uint8).reshape(6, 6, 3)
        media = spark.createDataFrame(
            [(1, bytearray(encode_ppm(img)))], "media_id long, content binary"
        ).select(
            "media_id",
            "content",
            F.struct(
                F.lit("image/x-portable-pixmap").alias("mime"),
                F.octet_length("content").cast("long").alias("n_bytes"),
                F.lit("t").alias("source"),
            ).alias("meta"),
        )
        row = resize_media(media, 3, 3, output_format="png").first()
        assert row.meta.mime == "image/png"
        got = _to_rgb3(decode_png(bytes(row.content)))
        assert got.shape == (3, 3, 3)
        assert (got == img[[1, 3, 5]][:, [1, 3, 5]]).all()

    def test_frame_sampling_explodes_rows(self, spark):
        docs = spark.createDataFrame([(1, "x" * 25, "s")], "doc_id long, text string, source string")
        media = to_media_table(docs, "doc_id", "text", "video/mp4", "source")
        frames = frame_sample_stub(media, every_n=10).collect()
        assert [r.frame_no for r in frames] == [0, 1]


class TestIngest:
    def test_ingest_csv_row_cap_and_overwrite(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources.ingest import ingest_csv

        p = tmp_path / "in.csv"
        p.write_text("a,b\n" + "\n".join(f"{i},{i*2}" for i in range(100)))
        out = ingest_csv(spark, str(p), "ingest_test", row_cap=13)
        assert out.count() == 13
        out2 = ingest_csv(spark, str(p), "ingest_test")  # overwrite, no cap
        assert out2.count() == 100
        spark.sql("DROP TABLE ingest_test")

    def test_json_orc_roundtrip(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources.io import (
            read_json,
            read_orc,
            write_files,
        )

        src = spark.range(50).selectExpr(
            "id", "cast(id * 1.5 as double) AS x", "concat('v', id) AS s"
        )
        write_files(src, str(tmp_path / "j"), fmt="json")
        back_j = read_json(spark, str(tmp_path / "j"), schema=src.schema)
        # JSON read-back marks everything nullable; compare names + types
        assert back_j.count() == 50
        assert [(f.name, f.dataType) for f in back_j.schema] == [
            (f.name, f.dataType) for f in src.schema
        ]
        write_files(src, str(tmp_path / "o"), fmt="orc", compression="zstd")
        back_o = read_orc(spark, str(tmp_path / "o"))
        assert back_o.count() == 50 and set(back_o.columns) == {"id", "x", "s"}
        assert back_o.agg({"x": "sum"}).first()[0] == src.agg({"x": "sum"}).first()[0]

    def test_training_shards_globally_ordered(self, spark, tmp_path):
        import glob

        from data_etl_with_dbt_spark.sources.io import write_training_shards

        src = spark.range(1000).selectExpr("id", "concat('doc', id) AS text")
        write_training_shards(src, str(tmp_path / "shards"), 4, ["id"])
        parts = sorted(glob.glob(str(tmp_path / "shards" / "part-*")))
        assert len(parts) == 4
        import pyarrow.parquet as pq

        seen = []
        for p in parts:
            ids = pq.read_table(p).column("id").to_pylist()
            assert ids == sorted(ids)  # intra-shard order
            seen.append(ids)
        flat = [i for ids in seen for i in ids]
        assert flat == sorted(flat) and len(flat) == 1000  # global order, no loss

    def test_write_files_partitioned_layout_prunes(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources.io import write_files

        src = spark.range(100).selectExpr("id", "id % 4 AS bucket")
        write_files(src, str(tmp_path / "p"), fmt="parquet", partition_by=["bucket"])
        assert (tmp_path / "p" / "bucket=0").exists()
        got = spark.read.parquet(str(tmp_path / "p")).where("bucket = 2")
        # partition pruning: only the bucket=2 directory is scanned
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert got.count() == 25
        assert "PartitionFilters: [isnotnull(bucket" in plan


class TestArrowANN:
    def test_arrow_topk_agrees_with_jvm_fold(self, spark):
        from data_etl_with_dbt_spark.operators.similarity import (
            brute_force_topk,
            brute_force_topk_arrow,
        )
        from data_etl_with_dbt_spark.sources.io import read_parquet
        from tests.conftest import SF_DIR

        emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
        from pyspark.sql import functions as F

        qs = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding")
        )
        jvm = brute_force_topk(emb, qs, k=10).collect()
        arrow = brute_force_topk_arrow(emb, qs, k=10).collect()
        jvm_m = {(r.query_id, r.vec_id): r.cosine for r in jvm}
        arrow_m = {(r.query_id, r.vec_id): r.cosine for r in arrow}
        assert set(jvm_m) == set(arrow_m)  # identical top-k membership
        for key in jvm_m:
            assert arrow_m[key] == pytest.approx(jvm_m[key], abs=1e-9)


class TestExactCosinePairsTiles:
    """The blocked-matmul all-pairs layout: every unordered pair lands in
    exactly one block-pair tile, whatever the block assignment."""

    def _reference_pairs(self, rows, threshold):
        import numpy as np

        ids = [r[0] for r in rows]
        X = np.asarray([r[1] for r in rows], dtype=np.float64)
        n = X / np.linalg.norm(X, axis=1, keepdims=True)
        sim = n @ n.T
        return {
            (min(ids[i], ids[j]), max(ids[i], ids[j]))
            for i in range(len(ids))
            for j in range(i + 1, len(ids))
            if sim[i, j] >= threshold
        }

    def test_matches_dense_reference_across_block_counts(self, spark):
        from data_etl_with_dbt_spark.operators.similarity import (
            exact_cosine_pairs,
        )

        import numpy as np

        rng = np.random.default_rng(7)
        rows = [
            (int(i), [float(x) for x in rng.normal(size=8)]) for i in range(40)
        ]
        # plant exact duplicates so the threshold band is populated
        rows.append((100, rows[0][1]))
        rows.append((101, [2.0 * x for x in rows[1][1]]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        want = self._reference_pairs(rows, 0.6)
        assert (100 in {a for a, _ in want} | {b for _, b in want})
        # n_blocks spanning degenerate (1 tile), default, and > n rows
        for nb in (1, 4, 64):
            got = {
                (r.id_a, r.id_b)
                for r in exact_cosine_pairs(
                    df, threshold=0.6, n_blocks=nb
                ).collect()
            }
            assert got == want, f"n_blocks={nb}"

    def test_string_ids_order_within_pair(self, spark):
        from data_etl_with_dbt_spark.operators.similarity import (
            exact_cosine_pairs,
        )

        rows = [
            ("zz", [1.0, 0.0]), ("aa", [1.0, 0.0]), ("mm", [0.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
        got = exact_cosine_pairs(df, threshold=0.99, n_blocks=3).collect()
        assert [(r.id_a, r.id_b) for r in got] == [("aa", "zz")]
        assert got[0].cosine == pytest.approx(1.0)


class TestBandedEmbeddingNearDup:
    def _exact_and_lsh(self, spark, threshold=0.35):
        from data_etl_with_dbt_spark.operators.similarity import (
            embedding_near_dup_pairs,
            exact_cosine_pairs,
        )
        from data_etl_with_dbt_spark.sources.io import read_parquet
        from tests.conftest import SF_DIR

        emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
        exact = {
            (r.id_a, r.id_b)
            for r in exact_cosine_pairs(emb, threshold=threshold).collect()
        }
        lsh = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup_pairs(
                emb, dim=64, threshold=threshold, n_planes=4, n_bands=16, seed=42
            ).collect()
        }
        return exact, lsh

    def test_banded_lsh_recall_floor_at_calibrated_threshold(self, spark):
        """b=16 bands x r=4 planes has theoretical recall ~0.92 at cosine
        0.35 (p/plane ~0.61); assert a 0.75 floor over the fixture plus the
        non-vacuity the suite entry depends on (nonzero pairs)."""
        exact, lsh = self._exact_and_lsh(spark)
        assert len(exact) > 0 and len(lsh) > 0
        assert len(exact & lsh) / len(exact) >= 0.75

    def test_banded_lsh_verify_is_exact(self, spark):
        """Candidates are verified with exact cosine, so LSH output is a
        SUBSET of the exact pair set — banding loses pairs, never invents."""
        exact, lsh = self._exact_and_lsh(spark)
        assert lsh <= exact

    def test_semantic_dedup_lsh_clusters_cover_exact_clusters(self, spark):
        """The scale-path suite entry: every LSH-derived cluster merge must
        also hold in the exact clustering (edges are a subset, so LSH
        components refine the exact components)."""
        from data_etl_with_dbt_spark.suite import QUERIES
        from tests.conftest import SF_DIR

        exact = {
            r.vec_id: r.cluster_id
            for r in QUERIES["semantic_dedup_clusters"].fn(spark, SF_DIR).collect()
        }
        approx = {
            r.vec_id: r.cluster_id
            for r in QUERIES["semantic_dedup_clusters_lsh"].fn(spark, SF_DIR).collect()
        }
        assert set(exact) == set(approx)  # every vector assigned in both
        for a in approx:
            for b in approx:
                if a < b and approx[a] == approx[b]:
                    assert exact[a] == exact[b]


class TestIncrementalMinhash:
    """Batch-vs-signature-store dedup: the daily-intake shape where the
    existing corpus is only ever touched through its (id, signature) index."""

    KW = dict(num_hashes=32, bands=8, shingle=3, threshold=0.5)

    def corpus(self, spark):
        return spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "an entirely unrelated document about spark engines"),
            ],
            "id long, text string",
        )

    def batch(self, spark):
        return spark.createDataFrame(
            [
                (10, "the quick brown fox jumps over the lazy dog"),  # dup of index 1
                (11, "fresh unique content nothing resembles this sentence"),
                (12, "fresh unique content nothing resembles this sentence"),  # dup of 11
            ],
            "id long, text string",
        )

    def verdicts(self, spark):
        index = minhash_signatures(self.corpus(spark), "id", "text", 32, 3).persist()
        return {
            r.id: r
            for r in incremental_minhash_dedup(
                self.batch(spark), index, "id", "text", **self.KW
            ).collect()
        }

    def test_index_dup_flagged_batch_keep_first(self, spark):
        v = self.verdicts(spark)
        assert v[10].dup_of == 1 and v[10].dup_source == "index"
        assert v[10].est_jaccard == pytest.approx(1.0)  # identical text, identical sigs
        assert v[11].dup_of is None  # smaller-id survivor of the in-batch pair
        assert v[12].dup_of == 11 and v[12].dup_source == "batch"

    def test_empty_index_in_batch_only(self, spark):
        empty = self.corpus(spark).limit(0)
        index = minhash_signatures(empty, "id", "text", 32, 3)
        v = {
            r.id: r.dup_of
            for r in incremental_minhash_dedup(
                self.batch(spark), index, "id", "text", **self.KW
            ).collect()
        }
        assert v == {10: None, 11: None, 12: 11}

    def test_index_append_keeps_survivors_only(self, spark):
        index = minhash_signatures(self.corpus(spark), "id", "text", 32, 3).persist()
        verdicts = incremental_minhash_dedup(
            self.batch(spark), index, "id", "text", **self.KW
        )
        updated = minhash_index_append(index, verdicts, "id")
        assert sorted(r.id for r in updated.collect()) == [1, 2, 11]
        # a second, identical batch now dedups fully against the updated store
        v2 = {
            r.id: r
            for r in incremental_minhash_dedup(
                self.batch(spark).withColumn("id", F.col("id") + 100),
                updated, "id", "text", **self.KW,
            ).collect()
        }
        assert v2[110].dup_of == 1 and v2[110].dup_source == "index"
        assert v2[111].dup_of == 11 and v2[111].dup_source == "index"
        assert v2[112].dup_of == 11 and v2[112].dup_source == "index"

    def test_batching_invariance_for_exact_dup_groups(self, spark):
        """Model property: for EXACT-duplicate groups (cliques — every pair
        within a group collides), the survivor set is identical however
        the id-ordered corpus is cut into batches with index appends
        between them. (For sub-threshold near-dup chains the greedy
        keep-first is inherently batching-sensitive — similarity isn't
        transitive — which the operator docstring documents; cliques are
        the regime where invariance MUST hold, e.g. exact re-crawls.)"""
        import random as _random

        from data_etl_with_dbt_spark.operators.dedup import (
            incremental_minhash_dedup,
            minhash_index_append,
            minhash_signatures,
        )

        rng = _random.Random(99)
        texts = [
            f"group {g} content sentence number {g} with distinctive words "
            f"{''.join(rng.choice('abcdefghij') for _ in range(12))}"
            for g in range(8)
        ]
        docs = []
        for i in range(30):
            docs.append((i, texts[rng.randrange(8)]))

        def survivors_with_cuts(cuts):
            index = minhash_signatures(
                spark.createDataFrame([], "id long, text string"),
                "id", "text", 32, 3,
            ).persist()
            kept = set()
            bounds = [0] + cuts + [len(docs)]
            for a, b in zip(bounds, bounds[1:]):
                batch = spark.createDataFrame(
                    docs[a:b], "id long, text string"
                )
                v = incremental_minhash_dedup(
                    batch, index, "id", "text", **self.KW
                ).persist()
                kept |= {r.id for r in v.collect() if r.dup_of is None}
                index = minhash_index_append(index, v, "id").persist()
            return kept

        one_shot = survivors_with_cuts([])
        # one survivor per group present, and it's the min id of its group
        by_text = {}
        for i, t in docs:
            by_text.setdefault(t, []).append(i)
        expected = {min(ids) for ids in by_text.values()}
        assert one_shot == expected
        for _ in range(2):
            cuts = sorted(rng.sample(range(1, len(docs)), 3))
            assert survivors_with_cuts(cuts) == expected, f"cuts={cuts}"

    def test_index_priority_over_batch_on_tie(self, spark):
        # doc 10 duplicates BOTH index doc 1 and nothing else; build a batch
        # where a doc ties between an index doc and a smaller batch doc —
        # the index attribution must win at equal estimated Jaccard.
        batch = spark.createDataFrame(
            [
                (10, "the quick brown fox jumps over the lazy dog"),
                (20, "the quick brown fox jumps over the lazy dog"),
            ],
            "id long, text string",
        )
        index = minhash_signatures(self.corpus(spark), "id", "text", 32, 3).persist()
        v = {
            r.id: r
            for r in incremental_minhash_dedup(
                batch, index, "id", "text", **self.KW
            ).collect()
        }
        assert v[10].dup_of == 1 and v[10].dup_source == "index"
        assert v[20].dup_of == 1 and v[20].dup_source == "index"

    def test_verdicts_carry_batch_columns(self, spark):
        batch = self.batch(spark).withColumn("src.name", F.lit("crawl"))
        index = minhash_signatures(self.corpus(spark), "id", "text", 32, 3)
        v = incremental_minhash_dedup(batch, index, "id", "text", **self.KW)
        assert v.columns == [
            "id", "text", "src.name", "signature", "dup_of", "est_jaccard",
            "dup_source",
        ]
        rows = {r.id: r for r in v.collect()}
        assert rows[11]["src.name"] == "crawl" and rows[11].dup_of is None
        assert rows[12].text == rows[11].text and rows[12].dup_of == 11
        with pytest.raises(ValueError, match="clash"):
            incremental_minhash_dedup(
                batch.withColumn("dup_of", F.lit(1)), index, "id", "text",
                **self.KW,
            )

    def test_equal_jaccard_ties_index_first_then_min_id(self, spark):
        """At equal est_jaccard an index partner beats a batch partner,
        then the smaller dup_of wins (index ids and batch ids alike)."""
        a = "the quick brown fox jumps over the lazy dog"
        b = "an entirely unrelated document about spark engines"
        index = minhash_signatures(
            spark.createDataFrame([(2, a), (1, a)], "id long, text string"),
            "id", "text", 32, 3,
        )
        batch = spark.createDataFrame(
            [(5, a), (10, a), (30, b), (20, b), (40, b)], "id long, text string"
        )
        v = {
            r.id: (r.dup_of, r.dup_source, r.est_jaccard)
            for r in incremental_minhash_dedup(
                batch, index, "id", "text", **self.KW
            ).collect()
        }
        assert v == {
            5: (1, "index", 1.0),
            10: (1, "index", 1.0),
            20: (None, None, None),
            30: (20, "batch", 1.0),
            40: (20, "batch", 1.0),
        }

    def test_band_keys_pinned(self, spark):
        """Persisted Bloom sidecars hold band keys: the banding must keep
        producing exactly these values for this signature."""
        from data_etl_with_dbt_spark.operators.dedup import band_bloom_keys

        sig = [
            (i * 0x9E3779B97F4A7C15 % (1 << 64)) - (1 << 63) for i in range(1, 33)
        ]
        df = spark.createDataFrame([(7, sig)], "id long, signature array<bigint>")
        keys = sorted(r.band_key for r in band_bloom_keys(df, "id", 32, 8).collect())
        assert keys == [
            -3477160748375709815, -2001961870349635404, -1042709004395786432,
            951188353949271774, 2377291437028832961, 5210693803473640654,
            8026245423042640912, 9139662416698276251,
        ]

    def test_signature_tree_rebuilt_for_a_new_gateway(self, spark, monkeypatch):
        from pyspark import SparkContext

        from data_etl_with_dbt_spark.operators.dedup import _signature_col

        first = _signature_col("text", 32, 3)
        assert _signature_col("text", 32, 3) is first  # built once per recipe
        monkeypatch.setattr(SparkContext, "_gateway", object())
        assert _signature_col("text", 32, 3) is not first  # never a stale tree


class TestDedupClusters:
    def test_components_with_isolated_nodes(self, spark):
        from data_etl_with_dbt_spark.operators.dedup import dedup_clusters

        docs = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
        # components: {1,2,3} (chain), {4,5}, isolated {6}, {7}
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
        )
        got = {r.id: r.cluster_id for r in dedup_clusters(docs, "id", pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 7}

    def test_long_chain_converges(self, spark):
        from data_etl_with_dbt_spark.operators.dedup import dedup_clusters

        n = 12  # diameter > a couple of rounds
        docs = spark.createDataFrame([(i,) for i in range(n)], "id long")
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        got = {r.id: r.cluster_id for r in dedup_clusters(docs, "id", pairs).collect()}
        assert set(got.values()) == {0}


class TestIVF:
    def test_ivf_topk_finds_self_and_bounds(self, spark):
        from data_etl_with_dbt_spark.operators.similarity import ivf_topk
        from data_etl_with_dbt_spark.sources.io import read_parquet
        from tests.conftest import SF_DIR

        emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
        qs = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding")
        )
        out = ivf_topk(emb, qs, k=5, n_cells=8, n_probe=2)
        rows = out.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        for qid, rs in by_q.items():
            assert len(rs) <= 5
            assert all(-1.0001 <= r.cosine <= 1.0001 for r in rs)
            # the query vector is in the corpus; its own cell is always probed
            top = max(rs, key=lambda r: r.cosine)
            assert top.vec_id == qid and top.cosine == pytest.approx(1.0)

    def test_ivf_recall_reasonable(self, spark):
        from data_etl_with_dbt_spark.operators.similarity import brute_force_topk, ivf_topk
        from data_etl_with_dbt_spark.sources.io import read_parquet
        from tests.conftest import SF_DIR

        emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
        qs = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding")
        )
        exact = brute_force_topk(emb, qs, k=10).collect()
        approx = ivf_topk(emb, qs, k=10, n_cells=8, n_probe=4).collect()
        exact_sets = {}
        for r in exact:
            exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
        approx_sets = {}
        for r in approx:
            approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
        recalls = [
            len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
            for q in exact_sets
        ]
        # probing half the cells of random-ish data: recall must beat random
        assert sum(recalls) / len(recalls) >= 0.3


class TestAsofTolerance:
    def test_tolerance_nulls_stale_matches(self, spark):
        left = spark.createDataFrame(
            [(1, TS(30), "recent"), (1, TS(59), "stale")], "k int, t timestamp, tag string"
        )
        right = spark.createDataFrame([(1, TS(25), 7.0)], "k int, rt timestamp, px double")
        out = asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            right_payload=["px"], tolerance="10 minutes",
        )
        got = {r.tag: r.px for r in out.collect()}
        assert got == {"recent": 7.0, "stale": None}  # 34-min-old match exceeds tolerance


class TestPrefixFilter:
    def test_prefix_filter_identical_to_unfiltered(self, spark):
        from data_etl_with_dbt_spark.operators.dedup import ngram_jaccard_pairs
        from data_etl_with_dbt_spark.sources.io import read_parquet
        from tests.conftest import SF_DIR

        docs = read_parquet(spark, f"{SF_DIR}/documents.parquet")
        for t in (0.3, 0.5, 0.8):
            with_pf = {
                (r.id_a, r.id_b, round(r.jaccard, 12))
                for r in ngram_jaccard_pairs(docs, "doc_id", "text", 2, t, prefix_filter=True).collect()
            }
            without = {
                (r.id_a, r.id_b, round(r.jaccard, 12))
                for r in ngram_jaccard_pairs(docs, "doc_id", "text", 2, t, prefix_filter=False).collect()
            }
            assert with_pf == without, f"threshold {t}"


class TestFileConnectors:
    """text / XML / binaryFile sources — the non-tabular half of the intake
    matrix (CSV/JSON/ORC/Parquet/JDBC are covered above and in test_jdbc)."""

    def test_read_text_lines_and_wholetext(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources.io import read_text

        d = tmp_path / "txt"
        d.mkdir()
        (d / "a.txt").write_text("alpha\nbeta\n")
        (d / "b.txt").write_text("gamma\n")
        lines = sorted(r.value for r in read_text(spark, str(d)).collect())
        assert lines == ["alpha", "beta", "gamma"]
        docs = sorted(r.value for r in read_text(spark, str(d), wholetext=True).collect())
        assert docs == ["alpha\nbeta\n", "gamma\n"]

    def test_read_xml_rowtag(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources.io import read_xml

        p = tmp_path / "docs.xml"
        p.write_text(
            "<corpus>"
            '<doc id="1"><title>first</title><score>0.5</score></doc>'
            '<doc id="2"><title>second</title><score>1.25</score></doc>'
            "</corpus>"
        )
        got = {
            r._id: (r.title, r.score)
            for r in read_xml(spark, str(p), row_tag="doc").collect()
        }
        assert got == {1: ("first", 0.5), 2: ("second", 1.25)}

    def test_binary_files_to_media_features(self, spark, tmp_path):
        """End-to-end media intake from FILES: binaryFile scan → media shape
        → mapInPandas decode with the real built-in codecs (no injection)."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            default_decoder,
            encode_bmp,
            extract_media_features,
            media_from_binary_files,
        )
        from data_etl_with_dbt_spark.sources.io import read_binary_files

        d = tmp_path / "media"
        d.mkdir()
        red = np.zeros((4, 6, 3), dtype=np.uint8)
        red[:, :, 0] = 200
        (d / "red.bmp").write_bytes(encode_bmp(red))
        (d / "note.txt").write_bytes(b"plain text payload")
        (d / "skip.dat").write_bytes(b"not media")

        files = read_binary_files(spark, str(d), glob="*.{bmp,txt}")
        media = media_from_binary_files(files)
        rows = {r.meta.source.rsplit("/", 1)[-1]: r for r in media.collect()}
        assert rows["red.bmp"].meta.mime == "image/bmp"
        assert rows["note.txt"].meta.n_bytes == 18
        assert set(rows) == {"red.bmp", "note.txt"}

        feats = {
            r.head_hex: r.feature
            for r in extract_media_features(media, decoder=default_decoder).collect()
        }
        bmp_feat = next(v for k, v in feats.items() if k.startswith("424d"))
        # [w, h, channels, mean_r, mean_g, mean_b, ...] for solid-red 4x6
        assert bmp_feat[:6] == [6.0, 4.0, 3.0, 200.0, 0.0, 0.0]


class TestBloomSketch:
    """Bloom filter as a DataFrame: no false negatives ever, FPR near the
    design target, bitmap bounded by m/64 rows, JVM-only plans."""

    def test_no_false_negatives_and_fpr(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import (
            bloom_build,
            bloom_parameters,
            bloom_probe,
        )

        n = 2000
        m, k = bloom_parameters(n, fpp=0.01)
        members = spark.range(n).select(
            F.concat(F.lit("key-"), F.col("id")).alias("key")
        )
        bloom = bloom_build(members, "key", m, k)
        assert bloom.count() <= (m + 63) // 64

        # every inserted key must probe true
        probed = bloom_probe(members, "key", bloom, m, k)
        assert probed.where(~F.col("might_contain")).count() == 0

        # non-members: FPR within 3x of the 1% design point
        others = spark.range(n, 3 * n).select(
            F.concat(F.lit("key-"), F.col("id")).alias("key")
        )
        fp = bloom_probe(others, "key", bloom, m, k).where("might_contain").count()
        assert fp / (2 * n) <= 0.03, f"FPR {fp / (2 * n):.4f}"

    def test_probe_is_jvm_only_broadcast_join(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import bloom_build, bloom_probe

        members = spark.range(100).select(F.col("id").cast("string").alias("key"))
        bloom = bloom_build(members, "key", 4096, 5)
        probed = bloom_probe(members, "key", bloom, 4096, 5)
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "BroadcastHashJoin" in plan

    def test_bloom_decontaminate_superset_of_exact(self, spark):
        """Bloom 'maybe' must cover every EXACT member (no false negatives):
        the bloom-filtered survivor set is a subset of the exact-filtered
        one, and survivors are never exact members."""
        from data_etl_with_dbt_spark.operators.sketch import bloom_decontaminate
        from data_etl_with_dbt_spark.sources.io import read_parquet
        from tests.conftest import SF_DIR

        docs = read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
            "doc_id", F.md5(F.lower(F.col("text"))).alias("fp")
        )
        ref = docs.where(F.col("doc_id") % 7 == 0).select(F.col("fp").alias("ref_fp"))
        survivors = bloom_decontaminate(docs, ref, "fp", "ref_fp", expected_keys=200)
        # no survivor may be an exact member of the reference set
        leaked = survivors.join(
            ref, survivors["fp"] == ref["ref_fp"], "left_semi"
        ).count()
        assert leaked == 0
        # and the filter keeps a sane majority (FPR small)
        n_docs, n_ref = docs.count(), docs.where(F.col("doc_id") % 7 == 0).count()
        assert survivors.count() >= (n_docs - n_ref) * 0.95


class TestHllSketch:
    """Mergeable HLL cardinality: estimates near exact, and merging
    per-group sketch partials must agree with sketching the whole column
    directly (the property that makes partials reusable across rollups)."""

    def test_estimate_accuracy_and_merge_consistency(self, spark):
        n = 20_000
        df = spark.range(n * 3).select(
            (F.col("id") % 4).cast("string").alias("grp"),
            # ~20k distinct values spread across groups
            F.md5((F.col("id") % n).cast("string")).alias("key"),
        )
        exact = df.select(F.count_distinct("key")).first()[0]
        per_grp = df.groupBy("grp").agg(F.hll_sketch_agg("key").alias("sk"))
        merged = (
            per_grp.agg(F.hll_union_agg("sk").alias("sk"))
            .select(F.hll_sketch_estimate("sk").alias("est"))
            .first()[0]
        )
        direct = (
            df.agg(F.hll_sketch_agg("key").alias("sk"))
            .select(F.hll_sketch_estimate("sk").alias("est"))
            .first()[0]
        )
        assert abs(merged - exact) / exact <= 0.05
        # merging partials == sketching directly (same registers)
        assert int(merged) == int(direct)

    def test_suite_entry_all_row_bounds_types(self, spark):
        from data_etl_with_dbt_spark.suite import QUERIES
        from tests.conftest import SF_DIR

        rows = QUERIES["hll_user_cardinality"].fn(spark, SF_DIR).collect()
        by_type = {r.event_type: r.approx_users for r in rows}
        assert "ALL" in by_type
        assert by_type["ALL"] >= max(v for k, v in by_type.items() if k != "ALL")


class TestTolerantParquet:
    """Corrupt-file-tolerant directory scans: good files read, corrupt ones
    reported explicitly (never silently skipped)."""

    def test_reads_good_reports_corrupt(self, spark, tmp_path):
        from data_etl_with_dbt_spark.sources.io import read_parquet_tolerant

        d = tmp_path / "mixed"
        spark.range(100).coalesce(1).write.parquet(str(d))
        # drop two garbage files into the directory
        (d / "upload_truncated.parquet").write_bytes(b"PAR1garbage")
        (d / "zeros.parquet").write_bytes(b"\x00" * 64)

        df, corrupt = read_parquet_tolerant(spark, str(d))
        assert df.count() == 100
        assert sorted(p.split("/")[-1] for p in corrupt) == [
            "upload_truncated.parquet", "zeros.parquet",
        ]

    def test_all_corrupt_returns_empty_with_schema(self, spark, tmp_path):
        from pyspark.sql import types as T
        from data_etl_with_dbt_spark.sources.io import read_parquet_tolerant

        d = tmp_path / "allbad"
        d.mkdir()
        (d / "bad.parquet").write_bytes(b"not parquet")
        schema = T.StructType([T.StructField("id", T.LongType())])
        df, corrupt = read_parquet_tolerant(spark, str(d), schema=schema)
        assert df.count() == 0 and df.schema == schema
        assert len(corrupt) == 1


class TestWhitening:
    """Per-label ZCA whitening: fitted parameters must actually whiten —
    near-zero mean and near-identity covariance per label after transform."""

    def test_whitened_covariance_is_identity(self, spark):
        import numpy as np
        from data_etl_with_dbt_spark.operators.similarity import (
            apply_whitening,
            whitening_stats,
        )

        # synthetic correlated data: 3 labels x 300 rows x 16 dims so every
        # group has full-rank covariance (fixture groups are too small)
        rng = np.random.default_rng(3)
        rows = []
        for lbl in range(3):
            A = rng.normal(size=(16, 16))
            X = rng.normal(size=(300, 16)) @ A + lbl * 5.0
            rows += [
                (lbl * 1000 + i, lbl, [float(v) for v in X[i]])
                for i in range(300)
            ]
        emb = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )
        stats = whitening_stats(emb, "label", "embedding")
        srows = {r.label: r for r in stats.collect()}
        assert set(srows) == {0, 1, 2}
        assert all(len(r.mean) == 16 and len(r.whiten) == 16 for r in srows.values())
        assert all(r.n == 300 for r in srows.values())

        out = apply_whitening(emb, stats, "vec_id", "label", "embedding")
        pdf = out.toPandas()
        assert len(pdf) == 900
        for lbl, grp in pdf.groupby("label"):
            X = np.stack(grp["embedding"].to_numpy())
            assert np.abs(X.mean(axis=0)).max() < 1e-9
            cov = np.cov(X, rowvar=False)
            assert np.abs(cov - np.eye(16)).max() < 0.05, f"label {lbl}"

    def test_plan_is_arrow_batched(self, spark):
        from data_etl_with_dbt_spark.operators.similarity import (
            apply_whitening,
            whitening_stats,
        )
        from data_etl_with_dbt_spark.sources.io import read_parquet
        from tests.conftest import SF_DIR

        emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
        out = apply_whitening(
            emb, whitening_stats(emb, "label", "embedding"),
            "vec_id", "label", "embedding",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # Arrow-batched python (mapInPandas), never row-at-a-time udf
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan


class TestSentenceSegmentation:
    """JVM split+posexplode vs the Python UDTF escape hatch: identical
    output on the same input; the JVM path must stay Python-free."""

    def test_jvm_and_udtf_agree(self, spark):
        from data_etl_with_dbt_spark.operators.textan import (
            make_sentence_udtf,
            sentences_jvm,
        )

        docs = spark.createDataFrame(
            [
                (1, "First sentence. Second one! Third?"),
                (2, "No terminator at all"),
                (3, "Dots... everywhere.. right?"),
                (4, None),
            ],
            "doc_id long, text string",
        )
        jvm = sentences_jvm(docs, "doc_id", "text").orderBy("doc_id", "sentence_idx")
        SentenceSplit = make_sentence_udtf()
        spark.udtf.register("sentence_split", SentenceSplit)
        docs.createOrReplaceTempView("seg_docs")
        via_udtf = spark.sql(
            """SELECT d.doc_id, s.sentence_idx, s.sentence
               FROM seg_docs d, LATERAL sentence_split(d.text) s
               ORDER BY d.doc_id, s.sentence_idx"""
        )
        assert [tuple(r) for r in jvm.collect()] == [
            tuple(r) for r in via_udtf.collect()
        ]
        plan = jvm._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestPngCodec:
    def _round_trip(self, shape, seed):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        img = np.random.default_rng(seed).integers(0, 256, shape, dtype=np.uint8)
        got = decode_png(encode_png(img))
        want = img if img.ndim == 3 else img[:, :, None]
        assert got.shape == want.shape and (got == want).all()

    def test_round_trip_all_color_types(self):
        self._round_trip((4, 5), 3)        # gray
        self._round_trip((3, 4, 2), 5)     # gray+alpha
        self._round_trip((5, 3, 3), 7)     # RGB
        self._round_trip((2, 6, 4), 11)    # RGBA

    def test_decode_all_five_filters(self):
        """Hand-build a PNG whose five scanlines use filter types 0-4
        (forward-filtered here against the spec), and check the decoder
        reconstructs the original pixels — encode_png only emits filter 0,
        so round-trips alone never exercise Sub/Up/Average/Paeth."""
        import zlib

        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            _PNG_SIG,
            decode_png,
        )

        rng = np.random.default_rng(13)
        h, w, c = 5, 4, 3
        img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
        flat = img.reshape(h, w * c).astype(int)
        stride, bpp = w * c, c
        raw = b""
        for y, ft in enumerate([0, 1, 2, 3, 4]):
            row = flat[y]
            prev = flat[y - 1] if y > 0 else np.zeros(stride, int)
            filt = np.zeros(stride, int)
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                b = prev[x]
                cc = prev[x - bpp] if x >= bpp else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if pa <= pb and pa <= pc else b if pb <= pc else cc
                filt[x] = (row[x] - pred) & 0xFF
            raw += bytes([ft]) + bytes(filt.tolist())

        def chunk(ctype, body):
            crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
            return (
                len(body).to_bytes(4, "big") + ctype + body
                + crc.to_bytes(4, "big")
            )

        ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
        png = (
            _PNG_SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        assert (decode_png(png) == img).all()

    def test_unsupported_variants_raise(self):
        import numpy as np
        import zlib

        from data_etl_with_dbt_spark.operators.multimodal import (
            _PNG_SIG,
            decode_png,
            encode_png,
        )

        with pytest.raises(ValueError):
            decode_png(b"\x89PNG\r\n")  # truncated signature
        img = np.zeros((2, 2, 3), np.uint8)
        # lying about interlace on a non-interlaced stream corrupts the
        # pass geometry: must raise (truncated), never garble silently
        buf = bytearray(encode_png(img))
        ihdr_off = len(_PNG_SIG) + 8
        buf[ihdr_off + 12] = 1  # interlace flag inside IHDR body
        with pytest.raises(ValueError):
            decode_png(bytes(buf))
        # genuinely unsupported layout: sub-8-bit MULTI-channel
        buf = bytearray(encode_png(img))
        buf[ihdr_off + 8] = 4  # depth 4 with color_type 2 (RGB)
        with pytest.raises(NotImplementedError):
            decode_png(bytes(buf))

    def test_default_decoder_png_features_match_bmp(self, spark):
        """The same pixels through PNG and BMP must featurize identically —
        the decoders share image_features, and PNG alpha drops."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            encode_bmp,
            encode_png,
        )

        rng = np.random.default_rng(17)
        img = rng.integers(0, 256, (6, 4, 3), dtype=np.uint8)
        rgba = np.dstack([img, np.full((6, 4), 128, np.uint8)])
        f_png = default_decoder(encode_png(img), "image/png")
        f_rgba = default_decoder(encode_png(rgba), "image/png")
        f_bmp = default_decoder(encode_bmp(img), "image/bmp")
        assert f_png == f_bmp == f_rgba
        assert f_png[:3] == [4.0, 6.0, 3.0]  # w, h, channels

    def test_png_through_spark_media_pipeline(self, spark, tmp_path):
        """End to end on the Spark side: binaryFile-shaped rows → media
        table → mapInPandas featurize with the default codecs."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            encode_png,
            image_features,
        )

        rng = np.random.default_rng(19)
        imgs = {f"/m/img{i}.png": rng.integers(0, 256, (3 + i, 4, 3), np.uint8) for i in range(3)}
        files = spark.createDataFrame(
            [(p, bytearray(encode_png(a)), len(encode_png(a))) for p, a in imgs.items()],
            "path string, content binary, length long",
        )
        from data_etl_with_dbt_spark.operators.multimodal import (
            media_from_binary_files,
        )

        media = media_from_binary_files(files)
        rows = extract_media_features(media, decoder=default_decoder).collect()
        assert len(rows) == 3
        by_id = {r.media_id: r.feature for r in rows}
        ids = {p: r.media_id for r in media.select("media_id", "meta.source").collect() for p in [r.source]}
        for p, arr in imgs.items():
            assert by_id[ids[p]] == image_features(arr)


class TestGopherFlags:
    def test_edge_docs_and_rule_independence(self, spark):
        from data_etl_with_dbt_spark.operators.textan import gopher_quality_flags

        docs = spark.createDataFrame(
            [
                (1, "the cat and the dog ran to the house of cards in town"),
                (2, ""),                       # empty: everything fails
                (3, "spam spam spam spam spam spam spam spam spam spam"),
                (4, "a b c d e f g h i j"),    # tiny words: mean_len fails
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r
            for r in gopher_quality_flags(
                docs, "doc_id", "text", min_words=5, max_words=100,
                min_mean_word_len=2.0, max_mean_word_len=8.0,
                max_dup_token_frac=0.5, min_distinct_stopwords=2,
            ).collect()
        }
        assert out[1].passes_gopher
        assert out[1].n_stopwords_distinct >= 4  # the, and, to, of, in
        assert out[2].n_words == 0 and not out[2].passes_gopher
        assert not out[2].word_count_ok and out[2].mean_word_len == 0.0
        # doc 3: repetition trips the dup rule; count/length bands still pass
        assert out[3].dup_token_frac == 0.9 and not out[3].dup_ok
        assert out[3].word_count_ok and out[3].mean_len_ok
        assert not out[3].passes_gopher
        # doc 4: mean word length 1.0 is the only failing band
        assert out[4].mean_word_len == 1.0 and not out[4].mean_len_ok
        assert out[4].dup_ok and out[4].word_count_ok


class TestPerplexityProxy:
    def test_gibberish_scores_higher_and_plan_is_jvm_only(self, spark):
        from data_etl_with_dbt_spark.operators.textan import unigram_logprob_score

        common = "the data table holds the data rows and the data columns"
        docs = spark.createDataFrame(
            [
                (1, common),
                (2, "the data rows and the data table"),   # in-distribution
                (3, "zxqv wkjh pfft zxqv qqrm"),            # out-of-distribution
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in unigram_logprob_score(docs, "doc_id", "text").collect()}
        assert out[3].avg_neg_logprob > out[2].avg_neg_logprob
        assert out[2].n_tokens == 7
        # hot path must stay JVM-side
        plan = unigram_logprob_score(docs, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan

    def test_shuffle_join_variant_matches_broadcast(self, spark):
        from data_etl_with_dbt_spark.operators.textan import unigram_logprob_score

        docs = spark.createDataFrame(
            [(i, f"tok{i % 3} tok{i % 5} shared") for i in range(20)],
            "doc_id long, text string",
        )
        a = sorted(tuple(r) for r in unigram_logprob_score(docs, "doc_id", "text").collect())
        b = sorted(
            tuple(r)
            for r in unigram_logprob_score(
                docs, "doc_id", "text", broadcast_vocab=False
            ).collect()
        )
        assert a == b


class TestTrainBpe:
    corpus = [
        "low lower lowest low low",
        "newer newest new low wider wide",
        "low lower new newer",
    ]

    @staticmethod
    def _reference_bpe(texts, num_merges, min_word_len=2):
        """Pure-Python Sennrich-style BPE with the operator's exact
        tie-break (count DESC, left ASC, right ASC) — the agreement oracle
        for the distributed trainer."""
        from collections import Counter

        wc = Counter(
            w for t in texts for w in t.lower().split() if len(w) >= min_word_len
        )
        syms = {w: list(w) for w in wc}
        merges = []
        for step in range(num_merges):
            pc = Counter()
            for w, c in wc.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += c
            if not pc:
                break
            (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((step, l, r, l + r, cnt))
            for w in syms:
                s, out, i = syms[w], [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                syms[w] = out
        return merges, syms

    def test_matches_reference_implementation(self, spark):
        from data_etl_with_dbt_spark.operators.textan import train_bpe

        df = spark.createDataFrame([(t,) for t in self.corpus], "text string")
        got = train_bpe(df, "text", num_merges=6)
        want, _ = self._reference_bpe(self.corpus, 6)
        assert [
            (m["step"], m["left"], m["right"], m["merged"], m["cnt"]) for m in got
        ] == want

    def test_segment_agrees_with_reference(self, spark):
        from data_etl_with_dbt_spark.operators.textan import bpe_segment, train_bpe

        df = spark.createDataFrame([(t,) for t in self.corpus], "text string")
        merges = train_bpe(df, "text", num_merges=6)
        _, ref_syms = self._reference_bpe(self.corpus, 6)
        words = spark.createDataFrame([(w,) for w in ref_syms], "word string")
        got = {
            r.word: list(r.sym)
            for r in bpe_segment(words, "word", merges, checkpoint_every=3).collect()
        }
        assert got == ref_syms

    def test_greedy_overlap_semantics(self, spark):
        # (a,a) on "aaaa" must merge non-overlapping left-to-right: [aa, aa];
        # on "aaa": [aa, a]
        from data_etl_with_dbt_spark.operators.textan import bpe_segment

        words = spark.createDataFrame([("aaaa",), ("aaa",)], "word string")
        merges = [{"step": 0, "left": "a", "right": "a", "merged": "aa", "cnt": 1}]
        got = {r.word: list(r.sym) for r in bpe_segment(words, "word", merges).collect()}
        assert got["aaaa"] == ["aa", "aa"]
        assert got["aaa"] == ["aa", "a"]


class TestIncrementalNgramDf:
    def test_cross_batch_threshold_detection(self, spark):
        from data_etl_with_dbt_spark.operators.dedup import incremental_ngram_df_prune

        empty = spark.createDataFrame([], "span string, df bigint")
        batches = [
            [(1, "a b c x y z")],   # "a b c" df=1 -> kept
            [(2, "a b c q r s")],   # df=2 -> still kept
            [(3, "a b c u v w")],   # df=3 -> DROPPED in this batch only
        ]
        index = empty
        results = []
        for rows in batches:
            docs = spark.createDataFrame(rows, "id long, text string")
            pruned, index = incremental_ngram_df_prune(
                docs, index, "id", "text", span_tokens=3, min_df=3
            )
            results.append({r.id: r for r in pruned.collect()})
        assert results[0][1].n_spans_dropped == 0
        assert results[1][2].n_spans_dropped == 0
        assert results[2][3].n_spans_dropped == 1  # crossed min_df=3 here
        # the index accumulated the span's document frequency across batches
        dfs = {r.span: r.df for r in index.collect()}
        assert dfs["a b c"] == 3 and dfs["x y z"] == 1

    def test_matches_batch_prune_when_single_batch(self, spark):
        from data_etl_with_dbt_spark.operators.dedup import (
            incremental_ngram_df_prune,
            ngram_df_prune,
        )

        docs = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c x y z"), (3, "a b c q r s")],
            "id long, text string",
        )
        empty = spark.createDataFrame([], "span string, df bigint")
        inc, _ = incremental_ngram_df_prune(docs, empty, "id", "text", 3, 3)
        batch = ngram_df_prune(docs, "id", "text", 3, 3)
        cols = sorted(batch.columns)
        assert sorted(map(tuple, inc.select(cols).collect())) == sorted(
            map(tuple, batch.select(cols).collect())
        )


class TestTrainBpeRandomized:
    def test_random_corpora_match_reference(self, spark):
        """Property check: on randomized corpora the distributed trainer
        must agree merge-for-merge (pair, order, count) with the pure-Python
        reference, including count-tie rounds where only the lexicographic
        tie-break decides."""
        import random

        from data_etl_with_dbt_spark.operators.textan import train_bpe

        alphabet = "abcd"
        for seed in (3, 5, 8):
            rng = random.Random(seed)
            texts = [
                " ".join(
                    "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 6)))
                    for _ in range(rng.randint(3, 10))
                )
                for _ in range(12)
            ]
            df = spark.createDataFrame([(t,) for t in texts], "text string")
            got = train_bpe(df, "text", num_merges=5)
            want, _ = TestTrainBpe._reference_bpe(texts, 5)
            assert [
                (m["step"], m["left"], m["right"], m["merged"], m["cnt"])
                for m in got
            ] == want, seed


class TestTokenizerParallelismInvariance:
    def test_bpe_merges_invariant_across_partition_counts(self, spark):
        """Distributed determinism: identical merge lists whatever the
        input partitioning. Holds because pair counts are exact integers
        (commutative partial aggregation) and the per-round argmax is a
        TOTAL order (count desc, then lexicographic) — if either property
        regressed (a float score, a first()-style tie-break), different
        partition counts would disagree and this test reds."""
        import random

        from data_etl_with_dbt_spark.operators.textan import train_bpe

        rng = random.Random(17)
        texts = [
            " ".join(
                "".join(rng.choice("abcde") for _ in range(rng.randint(2, 6)))
                for _ in range(rng.randint(3, 10))
            )
            for _ in range(24)
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        runs = [
            train_bpe(df.repartition(n), "text", num_merges=6)
            for n in (1, 7, 13)
        ]
        canon = [
            [(m["step"], m["left"], m["right"], m["merged"], m["cnt"]) for m in r]
            for r in runs
        ]
        assert canon[0] == canon[1] == canon[2]

    def test_unigram_lm_vocab_invariant_across_partition_counts(self, spark):
        """Same property for the unigram-LM trainer: E-step piece counts
        are frequency-weighted INTEGERS (exact under any partial-agg
        order), the M-step renormalizes on the driver, and every ranking
        (seeds, prune, piece ids) carries a total tie-break — so the
        trained vocabulary must not depend on input partitioning."""
        import random

        from data_etl_with_dbt_spark.operators.textan import train_unigram_lm

        rng = random.Random(23)
        texts = [
            " ".join(
                "".join(rng.choice("abcde") for _ in range(rng.randint(2, 7)))
                for _ in range(rng.randint(3, 9))
            )
            for _ in range(20)
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        runs = [
            train_unigram_lm(
                df.repartition(n), "text", vocab_size=24, num_iters=2
            )
            for n in (1, 6, 11)
        ]
        canon = [
            [(v["piece"], v["piece_id"], round(v["logprob"], 12)) for v in r]
            for r in runs
        ]
        assert canon[0] == canon[1] == canon[2]


class TestContainerMetadata:
    @staticmethod
    def _mini_mp4(duration=90, timescale=30, tracks=2, brand=b"isom"):
        import struct

        def box(fourcc, body):
            return struct.pack(">I", 8 + len(body)) + fourcc + body

        ftyp = box(b"ftyp", brand + struct.pack(">I", 0) + b"mp41")
        mvhd_body = (
            b"\x00\x00\x00\x00"           # version 0 + flags
            + struct.pack(">II", 0, 0)     # creation/modification
            + struct.pack(">I", timescale)
            + struct.pack(">I", duration * timescale)
        )
        moov = box(
            b"moov",
            box(b"mvhd", mvhd_body) + box(b"trak", b"") * tracks,
        )
        return ftyp + moov

    @staticmethod
    def _mini_mp3(n_frames=10, with_id3=True):
        # MPEG-1 Layer III, 128 kbps, 44100 Hz: frame size 417 bytes
        frame = b"\xff\xfb\x90\x00" + b"\x00" * 413
        id3 = b"ID3\x03\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10 if with_id3 else b""
        return id3 + frame * n_frames

    def test_mp3_frame_walk(self):
        """walk_mp3_frames hops headers by declared length: VBR per-frame
        bitrates, padding-bit +1 lengths, ID3 skip, truncated-tail stop —
        and round-trips encode_mp3_headers exactly."""
        from data_etl_with_dbt_spark.operators.multimodal import (
            encode_mp3_headers,
            walk_mp3_frames,
        )

        # VBR round-trip: alternating 32/320 kbps
        rates = [32, 320] * 5
        frames = walk_mp3_frames(encode_mp3_headers(rates))
        assert [f["bitrate_kbps"] for f in frames] == rates
        assert all(f["sample_rate"] == 44100 for f in frames)
        assert [f["frame_no"] for f in frames] == list(range(10))
        assert frames[0]["frame_bytes"] == 144000 * 32 // 44100
        assert frames[1]["frame_bytes"] == 144000 * 320 // 44100

        # padding bit adds one byte to the hop
        padded = bytes([0xFF, 0xFB, (9 << 4) | 0x02, 0x00])  # 128 kbps, pad=1
        plen = 144000 * 128 // 44100 + 1
        blob = padded + b"\x00" * (plen - 4) + encode_mp3_headers([64])
        got = walk_mp3_frames(blob)
        assert [f["bitrate_kbps"] for f in got] == [128, 64]
        assert got[0]["frame_bytes"] == plen

        # ID3 skip + truncated final frame stops cleanly (9 full + partial)
        payload = self._mini_mp3(n_frames=10)
        assert len(walk_mp3_frames(payload)) == 10
        assert len(walk_mp3_frames(payload[:-400])) == 9
        # truncated mid-ID3-header: data, not an IndexError
        assert walk_mp3_frames(b"ID3") == []
        assert walk_mp3_frames(b"ID3\x03\x00\x00") == []

    def test_mp3_frame_walk_randomized_round_trip(self):
        """Seeded random VBR sequences round-trip the walk exactly at
        every MPEG-1 sample rate — the property the deterministic suite
        fixture is one point of."""
        import random

        from data_etl_with_dbt_spark.operators.multimodal import (
            _MP3_BITRATES,
            _MP3_RATES,
            encode_mp3_headers,
            walk_mp3_frames,
        )

        rng = random.Random(5)
        for rate in _MP3_RATES:
            for _ in range(5):
                seq = [
                    _MP3_BITRATES[rng.randint(1, 14)]
                    for _ in range(rng.randint(1, 120))
                ]
                frames = walk_mp3_frames(encode_mp3_headers(seq, rate))
                assert [f["bitrate_kbps"] for f in frames] == seq
                assert all(f["sample_rate"] == rate for f in frames)
                assert [f["frame_bytes"] for f in frames] == [
                    144000 * b // rate for b in seq
                ]

    def test_webp_metadata_parse(self):
        from data_etl_with_dbt_spark.operators.multimodal import (
            default_decoder,
            encode_webp_headers,
            parse_webp_meta,
        )

        for fmt, alpha, anim in [
            ("VP8", False, False),
            ("VP8L", True, False),
            ("VP8X", True, True),
        ]:
            blob = encode_webp_headers(
                640, 480, fmt, has_alpha=alpha, is_animated=anim
            )
            m = parse_webp_meta(blob)
            assert (m["width"], m["height"], m["format"]) == (640, 480, fmt)
            assert (m["has_alpha"], m["is_animated"]) == (alpha, anim)
            assert default_decoder(blob, "image/webp")[0] == 640.0 * 480
        with pytest.raises(ValueError, match="RIFF/WEBP"):
            parse_webp_meta(b"RIFF\x00\x00\x00\x00AVI ")
        with pytest.raises(ValueError, match="no VP8"):
            parse_webp_meta(b"RIFF\x04\x00\x00\x00WEBP")

    def test_tiff_metadata_parse(self):
        from data_etl_with_dbt_spark.operators.multimodal import (
            default_decoder,
            encode_tiff_headers,
            parse_tiff_meta,
        )

        for endian in ("little", "big"):
            blob = encode_tiff_headers(
                [(800, 600), (80, 60)], endian=endian, compression=5
            )
            m = parse_tiff_meta(blob)
            assert (m["width"], m["height"]) == (800, 600)  # first page
            assert m["n_pages"] == 2 and m["compression"] == 5
            assert m["endian"] == endian
            assert default_decoder(blob, "image/tiff") == [480000.0, 2.0, 5.0]
        with pytest.raises(ValueError, match="magic"):
            parse_tiff_meta(b"XX\x2a\x00")
        # self-linking IFD chain must not loop forever
        loop = bytearray(encode_tiff_headers([(8, 8)]))
        loop[8 + 2 + 36 : 8 + 2 + 36 + 4] = (8).to_bytes(4, "little")
        m = parse_tiff_meta(bytes(loop))
        assert m["n_pages"] == 1

    def test_flac_metadata_parse(self):
        from data_etl_with_dbt_spark.operators.multimodal import (
            default_decoder,
            encode_flac_headers,
            parse_flac_meta,
        )

        blob = encode_flac_headers(44100, 2, 16, 44100 * 90)
        m = parse_flac_meta(blob)
        assert m["sample_rate"] == 44100 and m["channels"] == 2
        assert m["bits_per_sample"] == 16
        assert m["total_samples"] == 44100 * 90
        assert m["duration_seconds"] == pytest.approx(90.0)
        assert default_decoder(blob, "audio/flac") == [90.0, 44100.0, 2.0]
        # 5-bit rate / 36-bit total-sample boundaries survive the pack
        m24 = parse_flac_meta(encode_flac_headers(96000, 8, 24, (1 << 35) + 7))
        assert (m24["sample_rate"], m24["channels"], m24["bits_per_sample"]) == (
            96000, 8, 24,
        )
        assert m24["total_samples"] == (1 << 35) + 7
        with pytest.raises(ValueError, match="fLaC"):
            parse_flac_meta(b"OggS")

    def test_mp4_metadata_parse(self):
        from data_etl_with_dbt_spark.operators.multimodal import parse_mp4_meta

        m = parse_mp4_meta(self._mini_mp4(duration=90, timescale=30, tracks=2))
        assert m["major_brand"] == "isom"
        assert m["timescale"] == 30
        assert m["duration_seconds"] == pytest.approx(90.0)
        assert m["n_tracks"] == 2

    def test_mp4_truncated_raises(self):
        from data_etl_with_dbt_spark.operators.multimodal import parse_mp4_meta

        with pytest.raises(ValueError, match="mvhd"):
            parse_mp4_meta(self._mini_mp4()[:16])

    def test_mp3_metadata_parse_skips_id3(self):
        from data_etl_with_dbt_spark.operators.multimodal import parse_mp3_meta

        payload = self._mini_mp3(n_frames=10)
        m = parse_mp3_meta(payload)
        assert m["bitrate_kbps"] == 128 and m["sample_rate"] == 44100
        # 10 frames x 417 bytes at 128 kbps ~= 0.26 s
        assert m["est_duration_seconds"] == pytest.approx(4170 * 8 / 128000)
        # no-ID3 variant parses the same header
        m2 = parse_mp3_meta(self._mini_mp3(n_frames=10, with_id3=False))
        assert m2["bitrate_kbps"] == 128

    def test_default_decoder_extracts_container_features(self, spark):
        media = spark.createDataFrame(
            [
                (1, bytearray(self._mini_mp4(duration=90, timescale=30, tracks=2)), "video/mp4"),
                (2, bytearray(self._mini_mp3()), "audio/mpeg"),
            ],
            "media_id long, content binary, mime string",
        ).select(
            "media_id",
            "content",
            F.struct(
                F.col("mime").alias("mime"),
                F.octet_length("content").cast("long").alias("n_bytes"),
                F.lit("t").alias("source"),
            ).alias("meta"),
        )
        feats = {
            r.media_id: r.feature
            for r in extract_media_features(media, decoder=default_decoder).collect()
        }
        assert feats[1] == [90.0, 30.0, 2.0]
        assert feats[2][1:] == [44100.0, 128.0]


class TestFrameSampleTimes:
    def test_sample_times_from_real_mp4_duration(self, spark):
        from data_etl_with_dbt_spark.operators.multimodal import sample_frame_times

        mp4 = TestContainerMetadata._mini_mp4(duration=5, timescale=1000, tracks=1)
        media = spark.createDataFrame(
            [(1, bytearray(mp4), "video/mp4"), (2, bytearray(b"not video"), "text/plain")],
            "media_id long, content binary, mime string",
        ).select(
            "media_id",
            "content",
            F.struct(
                F.col("mime").alias("mime"),
                F.octet_length("content").cast("long").alias("n_bytes"),
                F.lit("t").alias("source"),
            ).alias("meta"),
        )
        rows = sample_frame_times(media, fps=2.0).collect()
        got = [(r.media_id, r.frame_no, r.t_seconds) for r in rows]
        # 5 s at 2 fps -> 10 sample instants; the text row contributes none
        assert got == [(1, i, i / 2.0) for i in range(10)]


class TestPageRank:
    @staticmethod
    def _reference_pagerank(edges, num_iter, damping=0.85):
        """Dense power iteration with uniform dangling redistribution —
        the agreement oracle for the distributed operator."""
        nodes = sorted({u for ed in edges for u in ed})
        idx = {u: i for i, u in enumerate(nodes)}
        n = len(nodes)
        out = {u: [] for u in nodes}
        for s, d in edges:
            out[s].append(d)
        rank = [1.0 / n] * n
        for _ in range(num_iter):
            dangling = sum(rank[idx[u]] for u in nodes if not out[u])
            new = [(1.0 - damping) / n + damping * dangling / n] * n
            for u in nodes:
                if out[u]:
                    share = rank[idx[u]] / len(out[u])
                    for d in out[u]:
                        new[idx[d]] += damping * share
            rank = new
        return {u: rank[idx[u]] for u in nodes}

    def test_directed_matches_reference_with_dangling(self, spark):
        from data_etl_with_dbt_spark.operators.graph import pagerank

        # 4 is dangling (no out-edges); 1->2->3->1 cycle feeds it
        edges = [(1, 2), (2, 3), (3, 1), (1, 4)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.id: r.rank for r in pagerank(df, num_iter=20).collect()}
        want = self._reference_pagerank(edges, 20)
        assert set(got) == set(want)
        for u in want:
            assert got[u] == pytest.approx(want[u], abs=1e-9), u
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)

    def test_undirected_star_center_dominates(self, spark):
        from data_etl_with_dbt_spark.operators.graph import pagerank

        df = spark.createDataFrame(
            [(0, i) for i in range(1, 5)], "src long, dst long"
        )
        got = {r.id: r.rank for r in pagerank(df, undirected=True, num_iter=25).collect()}
        sym = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
        want = self._reference_pagerank(sym, 25)
        for u in want:
            assert got[u] == pytest.approx(want[u], abs=1e-9)
        assert got[0] > max(got[i] for i in range(1, 5))


class TestCountMinSketch:
    def _toks(self, spark):
        rows = (
            [("apple",)] * 50 + [("banana",)] * 20 + [("cherry",)] * 5 + [("date",)] * 1
        )
        return spark.createDataFrame(rows, "token string")

    def test_never_undercounts_and_exact_on_sparse_fixture(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import cms_build, cms_estimate

        toks = self._toks(spark)
        cms = cms_build(toks, "token", depth=4, width=4096)
        exact = {r.token: r.c for r in toks.groupBy("token").agg(F.count("*").alias("c")).collect()}
        keys = toks.distinct()
        est = {
            r.token: r.est_count
            for r in cms_estimate(cms, keys, "token", depth=4, width=4096).collect()
        }
        for k, c in exact.items():
            assert est[k] >= c, k  # CMS guarantee: no undercount
        # 4 distinct keys in 4x4096 cells: deterministic hashes collide in no
        # row, so the min-estimate is exact
        assert est == exact

    def test_merge_equals_build_on_union(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import cms_build, cms_merge

        toks = self._toks(spark)
        h1 = toks.limit(40)
        h2 = toks.exceptAll(h1)
        merged = cms_merge(
            cms_build(h1, "token", depth=4, width=512),
            cms_build(h2, "token", depth=4, width=512),
        )
        whole = cms_build(toks, "token", depth=4, width=512)
        assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))

    def test_sketch_size_bounded_by_cells(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import cms_build

        toks = self._toks(spark)
        cms = cms_build(toks, "token", depth=3, width=16)
        assert cms.count() <= 3 * 16

    def test_unseen_key_estimates_zero_on_empty_rows(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import cms_build, cms_estimate

        cms = cms_build(self._toks(spark), "token", depth=4, width=4096)
        probe = spark.createDataFrame([("zzz-unseen",)], "token string")
        [row] = cms_estimate(cms, probe, "token", depth=4, width=4096).collect()
        assert row.est_count == 0


class TestBpeEncode:
    corpus = TestTrainBpe.corpus

    def test_ids_reproduce_reference_segmentation(self, spark):
        from data_etl_with_dbt_spark.operators.textan import (
            bpe_encode,
            bpe_segment,
            bpe_vocab,
            train_bpe,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.corpus)], "doc_id long, text string"
        )
        merges = train_bpe(df, "text", num_merges=5)
        _, ref_syms = TestTrainBpe._reference_bpe(self.corpus, 5)

        words = spark.createDataFrame([(w,) for w in ref_syms], "word string")
        vocab = {
            r.token: r.token_id
            for r in bpe_vocab(bpe_segment(words, "word", merges)).collect()
        }
        # dense ids 0..V-1
        assert sorted(vocab.values()) == list(range(len(vocab)))

        enc = bpe_encode(df, "doc_id", "text", merges, min_word_len=2).collect()
        id2tok = {v: k for k, v in vocab.items()}
        for r in enc:
            assert [id2tok[i] for i in r.ids] == ref_syms[r.word], r.word

    def test_stream_order_and_counts(self, spark):
        from data_etl_with_dbt_spark.operators.textan import bpe_encode, train_bpe

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.corpus)], "doc_id long, text string"
        )
        merges = train_bpe(df, "text", num_merges=3)
        enc = bpe_encode(df, "doc_id", "text", merges, min_word_len=1)
        got = {
            (r.doc_id, r.pos): r.word for r in enc.collect()
        }
        for i, t in enumerate(self.corpus):
            toks = t.lower().split()
            assert [got[(i, p)] for p in range(len(toks))] == toks


class TestZorderLayout:
    def test_interleave_known_bits(self, spark):
        from data_etl_with_dbt_spark.operators.layout import interleave_bits

        df = spark.createDataFrame([(0b1011, 0b0001)], "a long, b long")
        [row] = df.select(interleave_bits(F.col("a"), F.col("b"), 16).alias("z")).collect()
        # a bits at even positions, b bits at odd: a=1011 -> 1,1,0,1 at 0,2,4,6
        # b=0001 -> 1 at position 1
        want = (1 << 0) | (1 << 2) | (1 << 6) | (1 << 1)
        assert row.z == want

    def test_sql_spelling_matches_column_spelling(self, spark):
        import duckdb

        from data_etl_with_dbt_spark.operators.layout import interleave_bits, interleave_sql

        rows = [(i * 37 % 65536, i * 101 % 65536) for i in range(64)]
        df = spark.createDataFrame(rows, "a long, b long")
        got = [
            r.z for r in df.select(interleave_bits(F.col("a"), F.col("b"), 16).alias("z"))
            .orderBy("z").collect()
        ]
        con = duckdb.connect()
        con.execute("CREATE TABLE t (a BIGINT, b BIGINT)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        want = [
            r[0]
            for r in con.execute(
                f"SELECT {interleave_sql('a', 'b', 16)} AS z FROM t ORDER BY z"
            ).fetchall()
        ]
        assert got == want

    def test_zorder_beats_single_column_layout_off_axis(self, spark):
        from data_etl_with_dbt_spark.operators.layout import skipping_stats, zorder_key

        import random

        rng = random.Random(7)
        rows = [(i, rng.uniform(0.0, 1000.0), float(rng.randrange(0, 5000))) for i in range(4000)]
        df = spark.createDataFrame(rows, "id long, x double, y double")

        n_buckets = 16
        zdf = zorder_key(df, "x", "y", bits=16)
        # bucket = contiguous z-range (what repartitionByRange produces)
        zb = zdf.withColumn("bucket", F.expr(f"zkey DIV {(1 << 32) // n_buckets}"))
        z_stats = skipping_stats(zb, "x", "y", "bucket").agg(
            F.avg("a_frac").alias("af"), F.avg("b_frac").alias("bf")
        ).collect()[0]

        # single-column sort layout on x: rank by x into equal buckets
        from pyspark.sql import Window

        xb = df.withColumn(
            "bucket",
            F.floor((F.row_number().over(Window.orderBy("x")) - 1) / (4000 / n_buckets)),
        )
        x_stats = skipping_stats(xb, "x", "y", "bucket").agg(
            F.avg("a_frac").alias("af"), F.avg("b_frac").alias("bf")
        ).collect()[0]

        # x-sort: y spans stay ~full width; z-order: both dims bounded
        assert x_stats.bf > 0.9
        assert z_stats.bf < 0.6
        assert z_stats.af < 0.6

    def test_layout_write_produces_zsorted_partitions(self, spark):
        from data_etl_with_dbt_spark.operators.layout import zorder_layout

        rows = [(i, float(i % 97), float((i * 31) % 89)) for i in range(2000)]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        out = zorder_layout(df, "x", "y", num_files=8)
        per_part = out.select(
            "zkey", F.spark_partition_id().alias("pid")
        ).groupBy("pid").agg(F.min("zkey").alias("lo"), F.max("zkey").alias("hi"))
        spans = sorted((r.lo, r.hi) for r in per_part.collect())
        for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2  # contiguous, non-overlapping z-ranges


class TestProductQuantization:
    def _emb(self, spark):
        from data_etl_with_dbt_spark.sources.io import read_parquet
        from tests.conftest import SF_DIR

        return read_parquet(spark, f"{SF_DIR}/embeddings.parquet")

    def test_encode_complete_and_in_range(self, spark):
        from data_etl_with_dbt_spark.operators.similarity import pq_encode, pq_train

        emb = self._emb(spark).limit(100)
        books = pq_train(emb, m=8, k=16, seed=42)
        codes = pq_encode(emb, books).collect()
        assert len(codes) == 100 * 8  # one code per (vector, block)
        assert all(0 <= r.code < 16 for r in codes)
        per_vec = {}
        for r in codes:
            per_vec.setdefault(r.vec_id, set()).add(r.block)
        assert all(blocks == set(range(8)) for blocks in per_vec.values())

    def test_self_hit_and_recall_vs_exact_l2(self, spark):
        import numpy as np

        from data_etl_with_dbt_spark.operators.similarity import pq_topk, pq_train

        emb = self._emb(spark)
        qs = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding")
        )
        books = pq_train(emb, m=8, k=16, seed=42)
        approx = pq_topk(emb, qs, books, k=10).collect()

        rows = emb.select("vec_id", "embedding").collect()
        ids = np.asarray([r.vec_id for r in rows])
        mat = np.asarray([r.embedding for r in rows], dtype=np.float64)
        by_q = {}
        for r in approx:
            by_q.setdefault(r.query_id, []).append(r)
        recalls = []
        for qid, rs in by_q.items():
            assert len(rs) <= 10
            qv = mat[ids == qid][0]
            exact = set(
                ids[np.argsort(((mat - qv) ** 2).sum(axis=1), kind="stable")[:10]]
            )
            got = {r.vec_id for r in rs}
            # the query is in the corpus: its ADC distance is its own
            # quantization error, far below other random vectors
            assert qid in got, qid
            recalls.append(len(exact & got) / 10)
        # random baseline would be 10/500; PQ must do far better
        assert sum(recalls) / len(recalls) >= 0.3


class TestHllRegisters:
    def test_estimate_within_error_bound(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import hll_build, hll_estimate

        n = 5000
        df = spark.range(n).select(F.concat(F.lit("user-"), F.col("id")).alias("k"))
        est = hll_estimate(hll_build(df, "k", p=12), p=12)
        assert abs(est - n) / n < 0.05  # sigma ~1.04/sqrt(4096) = 1.6%

    def test_small_range_linear_counting(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import hll_build, hll_estimate

        df = spark.range(30).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
        est = hll_estimate(hll_build(df, "k", p=12), p=12)
        assert abs(est - 30) < 2  # linear counting is near-exact here

    def test_merge_equals_build_on_union(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import hll_build, hll_merge

        a = spark.range(0, 800).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
        b = spark.range(500, 1500).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
        merged = sorted(map(tuple, hll_merge(hll_build(a, "k"), hll_build(b, "k")).collect()))
        whole = sorted(map(tuple, hll_build(a.unionByName(b), "k").collect()))
        assert merged == whole

    def test_registers_bounded_and_duplicates_free(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import hll_build, hll_estimate

        dup = spark.range(2000).select((F.col("id") % 50).cast("string").alias("k"))
        regs = hll_build(dup, "k", p=10)
        assert regs.count() <= 1 << 10
        est = hll_estimate(regs, p=10)
        assert abs(est - 50) < 5  # duplicates don't inflate the estimate


class TestZorderDataSkipping:
    def test_fewer_files_overlap_selective_filters_than_single_sort(self, spark, tmp_path):
        """End-to-end skipping evidence from parquet FOOTERS: write the same
        rows z-ordered vs single-column-sorted, read back per-file min/max
        for both dims, and count files a selective range filter on the
        OFF-AXIS column cannot skip. Z-order must leave fewer overlapping
        files — this is exactly the pruning a 100 TB scan does."""
        import glob
        import random

        import pyarrow.parquet as pq

        from data_etl_with_dbt_spark.operators.layout import zorder_layout

        rng = random.Random(11)
        rows = [
            (i, rng.uniform(0, 1000.0), rng.uniform(0, 1000.0)) for i in range(20000)
        ]
        df = spark.createDataFrame(rows, "id long, x double, y double")

        zpath = str(tmp_path / "ztab")
        zorder_layout(df, "x", "y", num_files=16).write.parquet(zpath)
        xpath = str(tmp_path / "xtab")
        df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(xpath)

        def overlapping(path, col, lo, hi):
            n = 0
            for f in glob.glob(f"{path}/*.parquet"):
                md = pq.read_metadata(f)
                idx = md.schema.to_arrow_schema().get_field_index(col)
                fmin = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
                fmax = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
                if fmax >= lo and fmin <= hi:
                    n += 1
            return n

        # selective filter on y (the off-axis dim for the x-sorted table)
        z_hit = overlapping(zpath, "y", 100.0, 160.0)
        x_hit = overlapping(xpath, "y", 100.0, 160.0)
        assert x_hit == 16  # x-sort: every file spans all of y
        assert z_hit <= 8  # z-order: most files' y-range misses the filter
        # and the on-axis dim still prunes under z-order
        assert overlapping(zpath, "x", 100.0, 160.0) <= 8


def test_table_maintenance_example_runs(spark, tmp_path, capsys):
    """The table-maintenance example runs end to end: compaction preserves
    rows, and the z-ordered layout prunes the off-axis filter better than
    the single-column sort (asserted inside the example)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "table_maintenance",
        os.path.join(os.path.dirname(__file__), "..", "examples", "table_maintenance.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main(str(tmp_path / "wd"))
    out = capsys.readouterr().out
    assert "compaction: 40 files -> 1" in out
    assert "z-ordered layout" in out and "table maintenance complete" in out


def test_bpe_merge_artifact_round_trip(spark, tmp_path):
    """Tokenizer-as-artifact: a trained merge table saved to parquet loads
    back identical and segments identically."""
    from data_etl_with_dbt_spark.operators.textan import (
        bpe_segment,
        load_merges,
        save_merges,
        train_bpe,
    )

    df = spark.createDataFrame(
        [(t,) for t in TestTrainBpe.corpus], "text string"
    )
    merges = train_bpe(df, "text", num_merges=5)
    save_merges(spark, merges, str(tmp_path / "merges"))
    loaded = load_merges(spark, str(tmp_path / "merges"))
    assert loaded == merges

    words = spark.createDataFrame([("lowest",), ("newer",)], "word string")
    a = {r.word: list(r.sym) for r in bpe_segment(words, "word", merges).collect()}
    b = {r.word: list(r.sym) for r in bpe_segment(words, "word", loaded).collect()}
    assert a == b


class TestAsofDirections:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, TS(10), "e1"), (1, TS(20), "e2"), (2, TS(5), "e3"), (3, TS(7), "e4")],
            "k int, t timestamp, tag string",
        )
        right = spark.createDataFrame(
            [(1, TS(10), 100.0), (1, TS(25), 250.0), (2, TS(4), 40.0), (2, TS(6), 60.0)],
            "k int, t timestamp, v double",
        )
        return left, right

    def test_forward_strict_and_inclusive(self, spark):
        from data_etl_with_dbt_spark.operators.relational import asof_join

        left, right = self._frames(spark)
        inc = {
            r.tag: r.v
            for r in asof_join(
                left, right, "k", "t", "t", ["v"], strict=False, direction="forward"
            ).collect()
        }
        # e1@10: right@10 matches inclusively; e2@20 -> right@25
        assert inc == {"e1": 100.0, "e2": 250.0, "e3": 60.0, "e4": None}
        st = {
            r.tag: r.v
            for r in asof_join(
                left, right, "k", "t", "t", ["v"], strict=True, direction="forward"
            ).collect()
        }
        # strict: e1@10 skips right@10, takes right@25
        assert st == {"e1": 250.0, "e2": 250.0, "e3": 60.0, "e4": None}

    def test_nearest_picks_closer_and_ties_backward(self, spark):
        from data_etl_with_dbt_spark.operators.relational import asof_join

        left, right = self._frames(spark)
        got = {
            r.tag: r.v
            for r in asof_join(
                left, right, "k", "t", "t", ["v"], direction="nearest"
            ).collect()
        }
        # e2@20: backward@10 gap 10, forward@25 gap 5 -> forward
        # e3@5: backward@4 gap 1, forward@6 gap 1 -> tie -> backward
        assert got == {"e1": 100.0, "e2": 250.0, "e3": 40.0, "e4": None}

    def test_agrees_with_pandas_merge_asof(self, spark):
        import pandas as pd
        import random

        from data_etl_with_dbt_spark.operators.relational import asof_join

        rng = random.Random(5)
        lrows = sorted(
            [(rng.randint(1, 3), TS(rng.randint(0, 59), rng.randint(0, 59)), i)
             for i in range(60)],
            key=lambda r: r[1],
        )
        rrows = sorted(
            [(rng.randint(1, 3), TS(rng.randint(0, 59), rng.randint(0, 59)), float(i))
             for i in range(40)],
            key=lambda r: r[1],
        )
        # dedupe identical (k, t) pairs: at equal times pandas keeps the LAST
        # right row while the carry pattern keeps the last by union order —
        # same only when (k, t) is unique, which real event streams ensure
        # via a tie-break column
        seen = set()
        rrows = [r for r in rrows if not ((r[0], r[1]) in seen or seen.add((r[0], r[1])))]
        left = spark.createDataFrame(lrows, "k int, t timestamp, lid int")
        right = spark.createDataFrame(rrows, "k int, t timestamp, v double")
        lp = pd.DataFrame(lrows, columns=["k", "t", "lid"])
        rp = pd.DataFrame(rrows, columns=["k", "t", "v"])
        for direction in ("backward", "forward", "nearest"):
            got = {
                r.lid: r.v
                for r in asof_join(
                    left, right, "k", "t", "t", ["v"],
                    strict=False, direction=direction,
                ).collect()
            }
            want_df = pd.merge_asof(
                lp.sort_values("t"), rp.sort_values("t"),
                on="t", by="k", direction=direction,
            )
            want = {
                int(r.lid): (None if pd.isna(r.v) else float(r.v))
                for r in want_df.itertuples()
            }
            assert got == want, direction

    def test_forward_tolerance(self, spark):
        from data_etl_with_dbt_spark.operators.relational import asof_join

        left, right = self._frames(spark)
        got = {
            r.tag: r.v
            for r in asof_join(
                left, right, "k", "t", "t", ["v"],
                strict=False, direction="forward", tolerance="3 minutes",
            ).collect()
        }
        # e2@20 -> right@25 is 5 min away: outside tolerance
        assert got == {"e1": 100.0, "e2": None, "e3": 60.0, "e4": None}


class TestPalettePng:
    @staticmethod
    def _chunk(ctype: bytes, data: bytes) -> bytes:
        import zlib

        return (
            len(data).to_bytes(4, "big")
            + ctype
            + data
            + zlib.crc32(ctype + data).to_bytes(4, "big")
        )

    def _palette_png(self, idx_rows, palette, trns=None):
        import zlib

        h, w = len(idx_rows), len(idx_rows[0])
        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 3, 0, 0, 0])  # depth 8, palette, no interlace
        )
        plte = b"".join(bytes(c) for c in palette)
        raw = b"".join(b"\x00" + bytes(r) for r in idx_rows)  # filter 0
        png = b"\x89PNG\r\n\x1a\n" + self._chunk(b"IHDR", ihdr)
        png += self._chunk(b"PLTE", plte)
        if trns is not None:
            png += self._chunk(b"tRNS", bytes(trns))
        png += self._chunk(b"IDAT", zlib.compress(raw))
        png += self._chunk(b"IEND", b"")
        return png

    def test_palette_expands_to_rgb(self):
        from data_etl_with_dbt_spark.operators.multimodal import decode_png

        pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
        img = decode_png(self._palette_png([[0, 1], [2, 0]], pal))
        assert img.shape == (2, 2, 3)
        assert img[0, 0].tolist() == [255, 0, 0]
        assert img[0, 1].tolist() == [0, 255, 0]
        assert img[1, 0].tolist() == [0, 0, 255]

    def test_trns_adds_alpha_with_255_default(self):
        from data_etl_with_dbt_spark.operators.multimodal import decode_png

        pal = [(10, 20, 30), (40, 50, 60)]
        img = decode_png(self._palette_png([[0, 1]], pal, trns=[128]))
        assert img.shape == (1, 2, 4)
        assert img[0, 0].tolist() == [10, 20, 30, 128]  # tRNS entry
        assert img[0, 1].tolist() == [40, 50, 60, 255]  # default opaque

    def test_missing_plte_is_an_error(self):
        import pytest as _pytest

        from data_etl_with_dbt_spark.operators.multimodal import decode_png

        pal_png = bytearray(self._palette_png([[0]], [(1, 2, 3)]))
        # strip the PLTE chunk (12 + 3 bytes after the 8+25-byte sig+IHDR)
        start = 8 + 25
        del pal_png[start : start + 12 + 3]
        with _pytest.raises(ValueError, match="PLTE"):
            decode_png(bytes(pal_png))


class TestPrunedRead:
    def test_zorder_prunes_files_and_result_is_exact(self, spark, tmp_path):
        import random

        from data_etl_with_dbt_spark.operators.layout import pruned_read, zorder_layout

        rng = random.Random(19)
        rows = [(i, rng.uniform(0, 1000.0), rng.uniform(0, 1000.0)) for i in range(20000)]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        zpath = str(tmp_path / "z")
        zorder_layout(df, "x", "y", num_files=16).write.parquet(zpath)

        got, stats = pruned_read(spark, zpath, "y", 100.0, 160.0)
        want = sorted(i for i, _x, y in rows if 100.0 <= y <= 160.0)
        assert sorted(r.id for r in got.collect()) == want  # never loses rows
        assert stats["files_total"] == 16
        assert stats["files_read"] <= 8  # off-axis pruning actually bites

    def test_empty_range_reads_zero_files(self, spark, tmp_path):
        from data_etl_with_dbt_spark.operators.layout import pruned_read

        path = str(tmp_path / "t")
        spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v").coalesce(
            4
        ).write.parquet(path)
        got, stats = pruned_read(spark, path, "v", 5000.0, 6000.0)
        assert stats["files_read"] == 0
        assert got.count() == 0


class TestGifMeta:
    def _gif(self, frames=2, delay_cs=10, w=3, h=2):
        # GIF89a, 4-color global palette, N frames with graphic-control
        # extensions; LZW payload is opaque bytes (the walker never decodes)
        out = b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out += bytes([0x81, 0, 0])  # GCT flag, 2-bit table -> 4 entries
        out += bytes(12)  # 4 RGB palette entries
        for _ in range(frames):
            out += bytes([0x21, 0xF9, 4, 0]) + delay_cs.to_bytes(2, "little")
            out += bytes([0, 0])  # transparent idx + terminator
            out += bytes([0x2C]) + bytes(4) + w.to_bytes(2, "little")
            out += h.to_bytes(2, "little") + bytes([0])  # no local table
            out += bytes([2])  # LZW min code size
            out += bytes([3, 0xAA, 0xBB, 0xCC, 0])  # one sub-block + end
        return out + bytes([0x3B])

    def test_frames_dims_palette_delay(self):
        from data_etl_with_dbt_spark.operators.multimodal import parse_gif_meta

        meta = parse_gif_meta(self._gif(frames=3, delay_cs=25, w=7, h=5))
        assert meta == {
            "version": "89a",
            "width": 7,
            "height": 5,
            "global_palette_size": 4,
            "n_frames": 3,
            "animation_seconds": 0.75,
        }

    def test_rejects_non_gif(self):
        import pytest as _pytest

        from data_etl_with_dbt_spark.operators.multimodal import parse_gif_meta

        with _pytest.raises(ValueError, match="GIF87a/GIF89a"):
            parse_gif_meta(b"\x89PNG\r\n\x1a\nnope")


def test_default_decoder_gif_features():
    from data_etl_with_dbt_spark.operators.multimodal import default_decoder

    gif = TestGifMeta()._gif(frames=2, delay_cs=50, w=4, h=4)
    feats = default_decoder(gif, "image/gif")
    assert feats == [16.0, 2.0, 1.0]  # pixels, frames, seconds


class TestResolveEntities:
    def test_transitive_merge_and_canonicals(self, spark):
        """A~B and B~C must land in ONE entity even though dist(A, C)
        exceeds the threshold — the property pair output can't express."""
        from data_etl_with_dbt_spark.operators.relational import resolve_entities

        df = spark.createDataFrame(
            [
                (1, "smith", "b1"),
                (2, "smyth", "b1"),   # dist(smith, smyth) = 1
                (3, "smythe", "b1"),  # dist(smyth, smythe) = 1; dist(smith, smythe) = 2... use stricter
                (4, "jones", "b1"),
                (5, "smith", "b2"),   # same name, different block: separate entity
            ],
            "id long, name string, block string",
        )
        out = {r.id: (r.cluster_id, r.is_canonical, r.cluster_size) for r in
               resolve_entities(df, "block", "id", "name", max_dist=1).collect()}
        assert out[1] == (1, True, 3)
        assert out[2] == (1, False, 3)
        assert out[3] == (1, False, 3)  # transitive: dist(1,3)=2 > max_dist
        assert out[4] == (4, True, 1)
        assert out[5] == (5, True, 1)  # blocking boundary respected


class TestUdafSurface:
    def test_grouped_agg_udaf_vs_builtin_twin(self, spark):
        """The GROUPED_AGG pandas UDAF and its Catalyst twin agree within
        the trim band on well-behaved groups; the twin's plan stays
        Python-free (the reason it is the default spelling)."""
        import random

        from data_etl_with_dbt_spark.functions.udaf import (
            trimmed_mean_builtin,
            trimmed_mean_udaf,
        )

        rng = random.Random(3)
        rows = [
            (g, rng.uniform(0, 100) if i % 10 else 1e6)  # deciles hold outliers
            for g in ("a", "b")
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "g string, v double")

        udaf = {
            r.g: r.m
            for r in df.groupBy("g").agg(trimmed_mean_udaf("v").alias("m")).collect()
        }
        twin_df = trimmed_mean_builtin(df, ["g"], "v")
        twin = {r.g: r.trimmed_mean for r in twin_df.collect()}
        for g in ("a", "b"):
            # outliers trimmed by both: results land near the clean mean (~50)
            assert abs(udaf[g] - twin[g]) < 5.0, g
            assert udaf[g] < 1000 and twin[g] < 1000, g

        plan = twin_df._jdf.queryExecution().executedPlan().toString()
        assert "AggregatePython" not in plan and "EvalPython" not in plan
        udaf_plan = (
            df.groupBy("g").agg(trimmed_mean_udaf("v").alias("m"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "AggregatePython" in udaf_plan  # the Python path, visibly

    def test_geometric_mean_builtin(self, spark):
        from data_etl_with_dbt_spark.functions.udaf import geometric_mean

        df = spark.createDataFrame([(2.0,), (8.0,)], "v double")
        [row] = df.agg(geometric_mean(F.col("v")).alias("g")).collect()
        assert row.g == pytest.approx(4.0, rel=1e-9)


class TestPerceptualHash:
    def test_dhash_deterministic_and_brightness_invariant(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import dhash64

        rng = np.random.RandomState(5)
        img = rng.randint(0, 200, (32, 32, 3)).astype(np.uint8)
        assert dhash64(img) == dhash64(img.copy())
        # gradient hash: adding a global brightness constant changes nothing
        brighter = np.clip(img.astype(np.int64) + 40, 0, 255).astype(np.uint8)
        assert dhash64(brighter) == dhash64(img)

    def test_dhash_small_edit_small_distance(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import dhash64

        rng = np.random.RandomState(11)
        img = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
        edited = img.copy()
        edited[3, 5, 1] = np.uint8(min(255, int(edited[3, 5, 1]) + 2))
        a, b = dhash64(img), dhash64(edited)
        assert bin((a ^ b) & ((1 << 64) - 1)).count("1") <= 6
        other = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
        c = dhash64(other)
        assert bin((a ^ c) & ((1 << 64) - 1)).count("1") > 6

    def test_image_near_dup_pairs_finds_constructed_groups(self, spark):
        from pyspark.sql import functions as F

        from data_etl_with_dbt_spark.operators.multimodal import (
            image_near_dup_pairs,
            synth_image_media,
        )

        # 4 groups x 3 variants: ids 0..3 are bases, +4/+8 are perturbed twins
        base = spark.range(12).select(
            F.col("id").alias("doc_id"), F.lit("synthetic").alias("source")
        )
        media = synth_image_media(base, group_mod=4)
        pairs = image_near_dup_pairs(media, max_hamming=6).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        expected = {
            (a, a + d) for a in range(4) for d in (4, 8)
        } | {(a + 4, a + 8) for a in range(4)}
        # every constructed near-dup pair is found, and nothing else
        assert got == expected
        assert all(r.hamming <= 6 for r in pairs)

    def test_audio_spectral_features_dominant_sine(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            audio_spectral_features,
        )

        sr = 8000
        t = np.arange(sr)  # one second
        sine = (np.sin(2 * np.pi * 440.0 * t / sr) * 20000).astype(np.int64)
        dominant, centroid, rolloff = audio_spectral_features(sine, sr)
        assert abs(dominant - 440.0) <= 2.0
        assert abs(centroid - 440.0) <= 25.0  # leakage skews slightly
        assert rolloff >= dominant
        assert audio_spectral_features(np.zeros(100, np.int64), sr) == [0.0, 0.0, 0.0]

    def test_audio_spectral_report_matches_constructed_freqs(self, spark):
        from pyspark.sql import functions as F

        from data_etl_with_dbt_spark.operators.multimodal import (
            extract_media_features,
            spectral_decoder,
            synth_audio_media,
        )

        base = spark.range(8).select(
            F.col("id").alias("doc_id"), F.lit("synthetic").alias("source")
        )
        feats = extract_media_features(
            synth_audio_media(base), decoder=spectral_decoder
        ).collect()
        assert len(feats) == 8
        for r in feats:
            expected = 200.0 + (r.media_id % 20) * 100.0
            # bin width = sample_rate / n_samples = 4 Hz
            assert abs(r.feature[0] - expected) <= 4.0, (r.media_id, r.feature)


class TestKmvThetaSketch:
    """KMV / theta sketch (operators/sketch.kmv_*): bounded size, merge ==
    build-on-union, estimator error at sketch scale, exactness below k, and
    theta intersection sanity on constructed overlap."""

    def _keys(self, spark, n, prefix="u"):
        return spark.range(n).select(
            F.concat(F.lit(prefix), F.col("id").cast("string")).alias("k")
        )

    def test_size_bounded_and_exact_below_k(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import kmv_build, kmv_estimate

        sk = kmv_build(self._keys(spark, 40), "k", k=64)
        assert sk.count() == 40  # below k: sketch IS the distinct hash set
        [row] = kmv_estimate(sk, k=64).collect()
        assert row.approx_distinct == 40.0

    def test_estimator_within_bound_above_k(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import kmv_build, kmv_estimate

        k = 64
        sk = kmv_build(self._keys(spark, 5000), "k", k=k)
        assert sk.count() == k
        [row] = kmv_estimate(sk, k=k).collect()
        # KMV std error ~ 1/sqrt(k-2) ≈ 12.7%; allow 4 sigma
        assert abs(row.approx_distinct - 5000) / 5000 < 0.51

    def test_merge_equals_build_on_union(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import kmv_build, kmv_merge

        a = self._keys(spark, 300)
        b = self._keys(spark, 500)  # overlaps a on u0..u299
        merged = kmv_merge(
            kmv_build(a, "k", k=32), kmv_build(b, "k", k=32), k=32
        )
        whole = kmv_build(a.unionByName(b), "k", k=32)
        assert sorted(r.h for r in merged.collect()) == sorted(
            r.h for r in whole.collect()
        )

    def test_grouped_build_keeps_k_per_group(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import kmv_build

        df = spark.range(400).select(
            (F.col("id") % 2).cast("string").alias("g"),
            F.col("id").cast("string").alias("k"),
        )
        sk = kmv_build(df, "k", k=16, group_cols=["g"])
        per = {r.g: r.c for r in sk.groupBy("g").agg(F.count("*").alias("c")).collect()}
        assert per == {"0": 16, "1": 16}

    def test_intersection_estimate_tracks_overlap(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import (
            kmv_build,
            kmv_intersect_estimate,
        )

        k = 256
        # |A|=2000, |B|=2000, |A∩B|=1000 by construction
        a = kmv_build(self._keys(spark, 2000), "k", k=k)
        b = kmv_build(
            spark.range(1000, 3000).select(
                F.concat(F.lit("u"), F.col("id").cast("string")).alias("k")
            ),
            "k",
            k=k,
        )
        [row] = kmv_intersect_estimate(a, b, k=k).collect()
        assert abs(row.approx_intersection - 1000) / 1000 < 0.5

    def test_disjoint_intersection_is_zero(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import (
            kmv_build,
            kmv_intersect_estimate,
        )

        a = kmv_build(self._keys(spark, 100, prefix="a"), "k", k=64)
        b = kmv_build(self._keys(spark, 100, prefix="b"), "k", k=64)
        [row] = kmv_intersect_estimate(a, b, k=64).collect()
        assert row.approx_intersection == 0.0


class TestPca:
    """pca_fit/pca_project (operators/similarity): the distributed
    moment-merge fit must agree with a straight numpy PCA on the collected
    data, components must be orthonormal with descending variance, and
    reconstruction error must shrink as k grows."""

    def _frame(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        # anisotropic: variance concentrated in two known directions
        base = rng.normal(size=(400, 6)) * np.array([5.0, 3.0, 1.0, 0.5, 0.2, 0.1])
        rows = [(i, row.tolist()) for i, row in enumerate(base)]
        return (
            spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
            .repartition(7)  # multiple partitions exercise the moment merge
        )

    def test_agrees_with_numpy_and_is_orthonormal(self, spark):
        import numpy as np

        from data_etl_with_dbt_spark.operators.similarity import pca_fit

        df = self._frame(spark)
        model = pca_fit(df, vec_col="embedding", k=4)
        X = np.stack([r.embedding for r in df.orderBy("vec_id").collect()])
        mu = X.mean(axis=0)
        cov = (X - mu).T @ (X - mu) / (len(X) - 1)
        w, V = np.linalg.eigh(cov)
        assert np.allclose(model["mean"], mu, atol=1e-9)
        ref = sorted(w, reverse=True)[:4]
        assert np.allclose(model["explained_variance"], ref, rtol=1e-9)
        C = np.array(model["components"])
        assert np.allclose(C @ C.T, np.eye(4), atol=1e-9)  # orthonormal
        # each component spans the matching numpy eigenvector (up to sign)
        for i, val in enumerate(model["explained_variance"]):
            j = int(np.argmin(np.abs(w - val)))
            assert abs(abs(C[i] @ V[:, j]) - 1.0) < 1e-8
        assert model["explained_variance"] == sorted(
            model["explained_variance"], reverse=True
        )

    def test_projection_matches_numpy(self, spark):
        import numpy as np

        from data_etl_with_dbt_spark.operators.similarity import pca_fit, pca_project

        df = self._frame(spark)
        model = pca_fit(df, vec_col="embedding", k=3)
        got = {
            r.vec_id: np.array(r.pc)
            for r in pca_project(df, model, id_col="vec_id").collect()
        }
        mu = np.array(model["mean"])
        C = np.array(model["components"])
        for r in df.collect():
            want = (np.array(r.embedding) - mu) @ C.T
            assert np.allclose(got[r.vec_id], want, atol=1e-9)

    def test_reconstruction_error_shrinks_with_k(self, spark):
        import numpy as np

        from data_etl_with_dbt_spark.operators.similarity import pca_fit, pca_project

        df = self._frame(spark)
        X = np.stack([r.embedding for r in df.orderBy("vec_id").collect()])
        errs = []
        for k in (1, 3, 6):
            model = pca_fit(df, vec_col="embedding", k=k)
            mu = np.array(model["mean"])
            C = np.array(model["components"])
            P = {
                r.vec_id: np.array(r.pc)
                for r in pca_project(df, model, id_col="vec_id").collect()
            }
            rec = np.stack([P[i] @ C + mu for i in range(len(X))])
            errs.append(float(((X - rec) ** 2).sum()))
        assert errs[0] > errs[1] > errs[2]
        assert errs[2] < 1e-18  # k = d reconstructs exactly


class TestHashSampleQuantiles:
    """hash_sample / sampled_quantiles (operators/sketch): deterministic
    membership, per-shard UNION mergeability, and sample-quantile rank
    error within the classic O(1/sqrt(rate*n)) band."""

    def test_membership_deterministic_and_rate_close(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import hash_sample

        df = spark.range(10_000).select(F.col("id").cast("string").alias("k"))
        a = sorted(r.k for r in hash_sample(df, "k", 0.3).collect())
        b = sorted(r.k for r in hash_sample(df.repartition(13), "k", 0.3).collect())
        assert a == b  # partitioning-independent membership
        assert abs(len(a) / 10_000 - 0.3) < 0.02

    def test_shard_samples_union_to_global_sample(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import hash_sample

        df = spark.range(5_000).select(F.col("id").cast("string").alias("k"))
        s1 = hash_sample(df.where(F.col("id") < 2_500), "k", 0.2)
        s2 = hash_sample(df.where(F.col("id") >= 2_500), "k", 0.2)
        merged = sorted(r.k for r in s1.unionByName(s2).collect())
        whole = sorted(r.k for r in hash_sample(df, "k", 0.2).collect())
        assert merged == whole

    def test_quantile_rank_error_bounded(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import sampled_quantiles

        n = 20_000
        df = spark.range(n).select(
            F.col("id").cast("string").alias("k"),
            F.col("id").cast("double").alias("v"),
        )
        [row] = sampled_quantiles(
            df, key_col="k", value_col="v", probs=[0.5], rate=0.1
        ).collect()
        assert row.n == n and 0 < row.sample_n < n
        # rank of the sampled p50 in the true distribution: values are
        # 0..n-1 so rank = value/n; 3-sigma band ~ 3/(2*sqrt(rate*n))
        err = abs(row.p50_sampled / n - 0.5)
        assert err < 0.04, err


class TestUnigramLm:
    """train_unigram_lm / unigram_segment / unigram_encode
    (operators/textan): Viterbi-EM agreement against an independent
    pure-Python reference (same seeding/EM/prune rules, independently
    written backward-DP), coverage, probability normalization, and
    encode round-trip."""

    CORPUS = [
        (0, "the cat sat on the mat"),
        (1, "the cats sat on mats"),
        (2, "a cat and a mat and a hat"),
        (3, "hats and mats for cats"),
        (4, "the hat on the cat"),
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.CORPUS, "doc_id long, text string")

    # -- independent reference implementation ------------------------------
    def _reference_train(self, vocab_size, max_len, iters, seed_size):
        import math
        from collections import Counter

        wc = Counter()
        for _, t in self.CORPUS:
            for w in t.lower().split():
                wc[w] += 1
        seeds = Counter()
        for w, c in wc.items():
            for i in range(len(w)):
                for ln in range(1, min(max_len, len(w) - i) + 1):
                    seeds[w[i : i + ln]] += c
        chars = {p for p in seeds if len(p) == 1}
        multi = sorted(
            ((p, c) for p, c in seeds.items() if len(p) >= 2),
            key=lambda pc: (-pc[1] * len(pc[0]), pc[0]),
        )[:seed_size]
        total = sum(seeds[p] for p in chars) + sum(c for _, c in multi)
        logp = {p: math.log(seeds[p] / total) for p in chars}
        logp.update({p: math.log(c / total) for p, c in multi})

        def viterbi(word):
            # backward formulation — independent of the operator's forward DP
            n = len(word)
            best = {n: 0.0}
            choice = {}
            for i in range(n - 1, -1, -1):
                b = None
                for ln in range(1, min(max_len, n - i) + 1):
                    piece = word[i : i + ln]
                    if piece in logp and (i + ln) in best:
                        s = logp[piece] + best[i + ln]
                        # forward DP scans split points ascending and keeps
                        # strict improvements => for equal scores it keeps
                        # the SHORTEST piece ending at j; mirror that here
                        if b is None or s > b[0] + 1e-15:
                            b = (s, ln)
                if b is None:
                    return None
                best[i] = b[0]
                choice[i] = b[1]
            pieces, i = [], 0
            while i < n:
                pieces.append(word[i : i + choice[i]])
                i += choice[i]
            return pieces, best[0]

        cnt = {}
        for _ in range(iters):
            cnt = Counter()
            for w, c in wc.items():
                pieces, _s = viterbi(w)
                for p in pieces:
                    cnt[p] += c
            for ch in chars:
                cnt.setdefault(ch, 1)
            t = sum(cnt.values())
            logp = {p: math.log(c / t) for p, c in cnt.items()}
        budget = max(0, vocab_size - len(chars))
        kept = {
            p
            for p, _ in sorted(
                ((p, c) for p, c in cnt.items() if len(p) >= 2),
                key=lambda pc: (-pc[1], pc[0]),
            )[:budget]
        } | chars
        kt = sum(c for p, c in cnt.items() if p in kept)
        final = sorted(
            ((p, math.log(cnt[p] / kt)) for p in kept), key=lambda pl: (-pl[1], pl[0])
        )
        return final

    def test_agrees_with_reference(self, spark):
        from data_etl_with_dbt_spark.operators.textan import train_unigram_lm

        model = train_unigram_lm(
            self._df(spark), "text", vocab_size=30, max_piece_len=4,
            num_iters=3, seed_size=40,
        )
        ref = self._reference_train(30, 4, 3, 40)
        assert [m["piece"] for m in model] == [p for p, _ in ref]
        for m, (_, lp) in zip(model, ref):
            assert abs(m["logprob"] - lp) < 1e-9

    def test_probs_normalize_and_chars_covered(self, spark):
        import math

        from data_etl_with_dbt_spark.operators.textan import train_unigram_lm

        model = train_unigram_lm(
            self._df(spark), "text", vocab_size=25, max_piece_len=4,
            num_iters=2, seed_size=40,
        )
        assert abs(sum(math.exp(m["logprob"]) for m in model) - 1.0) < 1e-9
        pieces = {m["piece"] for m in model}
        corpus_chars = {
            ch for _, t in self.CORPUS for w in t.lower().split() for ch in w
        }
        assert corpus_chars <= pieces  # every character survives the prune
        assert any(len(p) >= 2 for p in pieces)  # and real pieces were learned

    def test_encode_round_trip_and_ids(self, spark):
        from data_etl_with_dbt_spark.operators.textan import (
            train_unigram_lm,
            unigram_encode,
        )

        df = self._df(spark)
        model = train_unigram_lm(
            df, "text", vocab_size=30, max_piece_len=4, num_iters=2, seed_size=40
        )
        by_id = {m["piece_id"]: m["piece"] for m in model}
        enc = unigram_encode(df, "doc_id", "text", model).collect()
        assert len(enc) == sum(len(t.split()) for _, t in self.CORPUS)
        for r in enc:
            assert "".join(by_id[i] for i in r.ids) == r.word  # lossless
        # segmenting an UNSEEN word still works via character coverage
        unseen = spark.createDataFrame([(9, "tacocat")], "doc_id long, text string")
        [row] = unigram_encode(unseen, "doc_id", "text", model).collect()
        assert "".join(by_id[i] for i in row.ids) == "tacocat"


class TestPqRerank:
    def test_rerank_restores_exact_ordering_and_recall(self, spark, testdata):
        from data_etl_with_dbt_spark.operators.similarity import (
            ann_recall_report,
            brute_force_topk,
            pq_topk_rerank,
            pq_train,
        )

        emb = testdata["embeddings"]
        queries = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        books = pq_train(emb, vec_col="embedding", m=8, k=16, seed=42)
        exact = brute_force_topk(emb, queries, k=10)
        rr = pq_topk_rerank(
            emb, queries, books, k=10, shortlist=100
        )
        # schema parity with the exact baseline
        assert rr.columns == exact.columns
        # re-ranked cosines are EXACT (values match brute force for shared ids)
        ex = {(r.query_id, r.vec_id): r.cosine for r in exact.collect()}
        for r in rr.collect():
            if (r.query_id, r.vec_id) in ex:
                assert abs(r.cosine - ex[(r.query_id, r.vec_id)]) < 1e-12
        # composite recall must beat the raw ADC top-k's
        report = ann_recall_report(rr, exact).collect()
        overall = [r for r in report if r.query_id == "ALL"][0]
        assert overall.recall >= 0.7
        # self-hit: each query's own vector ranks first
        firsts = {
            r.query_id: r.vec_id
            for r in rr.collect()
            if abs(r.cosine - 1.0) < 1e-9
        }
        assert all(q == v for q, v in firsts.items())

    def test_recall_report_shape(self, spark):
        from data_etl_with_dbt_spark.operators.similarity import ann_recall_report

        exact = spark.createDataFrame(
            [(1, 10), (1, 11), (2, 20), (2, 21)], "query_id long, vec_id long"
        )
        approx = spark.createDataFrame(
            [(1, 10), (1, 99), (2, 20), (2, 21)], "query_id long, vec_id long"
        )
        rows = {r.query_id: r.recall for r in ann_recall_report(approx, exact).collect()}
        assert rows == {"1": 0.5, "2": 1.0, "ALL": 0.75}


class TestMp3Vbr:
    def test_xing_frame_count_beats_cbr_estimate(self):
        from data_etl_with_dbt_spark.operators.multimodal import parse_mp3_meta

        # first frame: header + 32 bytes stereo side info + Xing tag with
        # ONLY the frame-count field (flags=0x1), count=250
        hdr = b"\xff\xfb\x90\x00"
        xing = b"Xing" + (1).to_bytes(4, "big") + (250).to_bytes(4, "big")
        first = hdr + b"\x00" * 32 + xing
        first += b"\x00" * (417 - len(first))
        # only 3 physical frames follow — the CBR byte estimate would be
        # tiny; the Xing count must win
        payload = first + (hdr + b"\x00" * 413) * 3
        m = parse_mp3_meta(payload)
        assert m["sample_rate"] == 44100
        assert m["est_duration_seconds"] == pytest.approx(250 * 1152 / 44100)

    def test_absent_xing_keeps_cbr_estimate(self):
        from data_etl_with_dbt_spark.operators.multimodal import parse_mp3_meta

        frame = b"\xff\xfb\x90\x00" + b"\x00" * 413
        m = parse_mp3_meta(frame * 5)
        assert m["est_duration_seconds"] == pytest.approx(417 * 5 * 8 / 128000)


class TestBasketPairCounts:
    def test_exact_pairs_and_min_support(self, spark):
        from data_etl_with_dbt_spark.operators import basket_pair_counts

        rows = [  # orders 1,2 share {10,20}; order 3 is a singleton
            (1, 10), (1, 20), (1, 30),
            (2, 10), (2, 20),
            (3, 40), (3, 40),  # duplicate line item: distinct() collapses
        ]
        df = spark.createDataFrame(rows, "o long, item long")
        got = {
            (r.pa, r.pb): r.n_both
            for r in basket_pair_counts(df, "o", "item").collect()
        }
        assert got == {(10, 20): 2, (10, 30): 1, (20, 30): 1}
        supported = basket_pair_counts(df, "o", "item", min_support=2).collect()
        assert [(r.pa, r.pb, r.n_both) for r in supported] == [(10, 20, 2)]

    def test_mega_basket_cap_bounds_pair_work(self, spark):
        from data_etl_with_dbt_spark.operators import basket_pair_counts

        mega = [(1, i) for i in range(100)] + [(2, 5), (2, 7)]
        df = spark.createDataFrame(mega, "o long, item long")
        capped = basket_pair_counts(df, "o", "item", max_basket_items=10)
        pairs = capped.collect()
        # mega basket contributes C(10,2)=45 pairs, not C(100,2)=4950; the
        # small basket's (5,7) merges with the capped set's (ascending cap
        # keeps items 0..9, so 5 and 7 survive deterministically)
        assert len(pairs) == 45
        assert {r.n_both for r in pairs if (r.pa, r.pb) == (5, 7)} == {2}
        assert max(max(r.pa, r.pb) for r in pairs) == 9


class TestJpegCodec:
    def test_bit_io_accumulators_stay_bounded(self):
        """Round-5 ADVICE regression: _BitReader.buf/_BitWriter.acc must
        truncate consumed/emitted bits — otherwise each shift is O(stream
        size) and decoding a real web JPEG (hundreds of KB of entropy data)
        is quadratic. Correctness is covered by the round-trip tests; this
        pins the LINEAR-cost invariant directly."""
        from data_etl_with_dbt_spark.operators.jpeg import _BitReader, _BitWriter

        data = bytes(range(1, 255)) * 200  # ~51 KB, no 0xFF markers
        r = _BitReader(data, 0)
        total = 0
        while total + 7 <= len(data) * 8:
            r.read_bits(7)
            total += 7
            assert r.buf.bit_length() <= 64
        w = _BitWriter()
        for i in range(30000):
            w.write(i & 0x3F, 7)
            assert w.acc.bit_length() <= 16
        w.flush()
        assert len(w.out) >= 30000 * 7 // 8

    def test_flat_block_is_exact(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import decode_jpeg, encode_jpeg

        flat = np.full((24, 24, 3), 77, np.uint8)
        assert (decode_jpeg(encode_jpeg(flat, 85)) == 77).all()
        gray = np.full((8, 8), 200, np.uint8)
        out = decode_jpeg(encode_jpeg(gray, 85))
        assert out.shape == (8, 8, 1) and (out == 200).all()

    def test_round_trip_psnr_smooth_gradient(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import decode_jpeg, encode_jpeg

        yy, xx = np.mgrid[0:32, 0:48]
        img = np.stack(
            [np.clip(yy * 4, 0, 255), np.clip(xx * 3, 0, 255),
             np.clip(128 + yy - xx, 0, 255)], axis=-1,
        ).astype(np.uint8)
        for q, floor in [(95, 45.0), (85, 45.0), (50, 38.0)]:
            dec = decode_jpeg(encode_jpeg(img, q))
            assert dec.shape == img.shape
            mse = float(np.mean((dec.astype(float) - img.astype(float)) ** 2))
            psnr = 10 * np.log10(255 ** 2 / mse)
            assert psnr > floor, (q, psnr)

    def test_non_multiple_of_8_dims_and_noise(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import decode_jpeg, encode_jpeg

        noise = np.random.default_rng(7).integers(0, 256, (17, 23, 3), np.uint8)
        dec = decode_jpeg(encode_jpeg(noise, 95))
        assert dec.shape == (17, 23, 3)
        mse = float(np.mean((dec.astype(float) - noise.astype(float)) ** 2))
        assert 10 * np.log10(255 ** 2 / mse) > 30.0

    def test_decodes_externally_encoded_jpegs(self):
        """Real-world JPEGs produced by independent encoders (stdlib test
        data): a 16x16 RGB icon and — when present — a 477x720 4:2:0
        photo exercise subsampled chroma, restart-free multi-MCU scans,
        and real huffman tables our encoder never emits."""
        import os

        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import decode_jpeg

        base = "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11"
        samples = [
            (os.path.join(base, "test/imghdrdata/python.jpg"), (16, 16, 3)),
            (os.path.join(base, "site-packages/IPython/core/tests/2x2.jpg"), (2, 2, 1)),
        ]
        found = 0
        for path, shape in samples:
            if not os.path.exists(path):
                continue
            found += 1
            img = decode_jpeg(open(path, "rb").read())
            assert img.shape == shape
            assert float(np.asarray(img).std()) >= 0.0
        if not found:
            import pytest as _pytest

            _pytest.skip("no system sample JPEGs in this container")

    def test_unsupported_processes_raise(self):
        """Lossless (SOF3) and arithmetic-coded (SOFB) JPEGs refuse
        explicitly; junk input gets a clear SOI error. (Progressive/SOF2
        DECODES as of round 4 — see the equivalence test.)"""
        import numpy as np
        import pytest as _pytest

        from data_etl_with_dbt_spark.operators.jpeg import decode_jpeg, encode_jpeg

        for sof in (0xC3, 0xCB):
            blob = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
            i = blob.find(b"\xff\xc0")
            blob[i + 1] = sof
            with _pytest.raises(NotImplementedError, match="coding process"):
                decode_jpeg(bytes(blob))
        with _pytest.raises(ValueError, match="SOI"):
            decode_jpeg(b"notajpeg")

    def test_default_decoder_sniffs_jpeg(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import encode_jpeg
        from data_etl_with_dbt_spark.operators.multimodal import default_decoder

        img = np.full((16, 16, 3), 99, np.uint8)
        feats = default_decoder(encode_jpeg(img, 90), "image/jpeg")
        # [w, h, c, mean_r, mean_g, mean_b, mean_gray] per image_features
        assert feats[:3] == [16.0, 16.0, 3.0]
        assert all(abs(m - 99.0) < 1.5 for m in feats[3:])

    def test_restart_markers_round_trip(self):
        """DRI/RSTn path: an encoder-emitted restart interval must decode
        to EXACTLY the same pixels as the restart-free stream (DC
        predictors reset + byte-align at each marker), covering the
        decoder's align_and_sync_rst logic without external samples."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import decode_jpeg, encode_jpeg

        yy, xx = np.mgrid[0:24, 0:40]
        img = np.stack(
            [np.clip(yy * 5, 0, 255), np.clip(xx * 4, 0, 255),
             np.clip(100 + yy + xx, 0, 255)], axis=-1,
        ).astype(np.uint8)
        ref = decode_jpeg(encode_jpeg(img, 85))
        for dri in (1, 3):
            blob = encode_jpeg(img, 85, restart_interval=dri)
            assert b"\xff\xdd" in blob  # DRI segment present
            assert (decode_jpeg(blob) == ref).all()

    def test_truncated_streams_never_hang_or_crash_unexpectedly(self):
        """Every prefix of a valid JPEG either raises a clean error or
        decodes (zero-padded entropy tail = partial image, the standard
        lenient-decoder behavior) — never an unexpected exception type and
        never a hang. Web-scraped corpora are full of truncated files."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import decode_jpeg, encode_jpeg

        yy, xx = np.mgrid[0:16, 0:16]
        blob = encode_jpeg(
            np.stack([yy * 8, xx * 8, yy + xx], -1).astype(np.uint8), 85
        )
        for k in range(2, len(blob), 7):
            try:
                out = decode_jpeg(blob[:k])
                assert out.shape == (16, 16, 3)
            except (ValueError, NotImplementedError, IndexError):
                pass

    def test_jpeg_media_through_arrow_feature_extraction(self, spark):
        """End-to-end: JPEG payloads in a media table decode inside the
        mapInPandas worker via default_decoder's magic sniffing — proving
        the worker closure ships the jpeg module by value (executors can't
        import the repo) and the Arrow batch plumbing is codec-agnostic."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import encode_jpeg
        from data_etl_with_dbt_spark.operators.multimodal import (
            default_decoder,
            extract_media_features,
        )

        rows = []
        for i, level in enumerate([40, 120, 220]):
            blob = encode_jpeg(np.full((16, 16, 3), level, np.uint8), 90)
            rows.append((i, bytearray(blob)))
        media = spark.createDataFrame(rows, "media_id long, content binary").select(
            "media_id",
            "content",
            F.struct(
                F.lit("image/jpeg").alias("mime"),
                F.octet_length("content").cast("long").alias("n_bytes"),
                F.lit("t").alias("source"),
            ).alias("meta"),
        )
        out = {
            r.media_id: r.feature
            for r in extract_media_features(media, default_decoder).collect()
        }
        assert len(out) == 3
        for i, level in enumerate([40, 120, 220]):
            w, h, c, mr, mg, mb, gray = out[i]
            assert (w, h, c) == (16.0, 16.0, 3.0)
            assert abs(gray - level) < 2.0  # flat JPEG decodes (near-)exactly

    def test_progressive_decodes_identical_to_sequential(self):
        """Progressive (SOF2) and sequential encodings convey the same
        quantized coefficients, so they must decode BIT-IDENTICALLY — over
        gradient / grayscale / noise (ZRL + refinement + newly-significant
        paths) / flat (cross-block EOB runs), at 4:4:4 and 4:2:0, at
        non-multiple-of-8/16 dims (spec scan grid vs MCU-padded grid)."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import decode_jpeg, encode_jpeg

        rng = np.random.default_rng(5)
        yy, xx = np.mgrid[0:37, 0:53]
        cases = [
            np.stack([np.clip(yy * 4, 0, 255), np.clip(xx * 3, 0, 255),
                      np.clip(128 + yy - xx, 0, 255)], axis=-1).astype(np.uint8),
            rng.integers(0, 256, (33, 49, 3), np.uint8),
            np.full((40, 40, 3), 77, np.uint8),
        ]
        for img in cases:
            for sub in ("444", "420"):
                seq = decode_jpeg(encode_jpeg(img, 90, subsampling=sub))
                prog = decode_jpeg(
                    encode_jpeg(img, 90, progressive=True, subsampling=sub)
                )
                assert (prog == seq).all(), sub
        gray = np.clip(yy * 7, 0, 255).astype(np.uint8)
        assert (
            decode_jpeg(encode_jpeg(gray, 85, progressive=True))
            == decode_jpeg(encode_jpeg(gray, 85))
        ).all()

    def test_420_subsampling_round_trip(self):
        """4:2:0 chroma subsampling (the dominant web-JPEG layout): decoder
        upsamples back to full resolution; luma stays sharp, overall error
        bounded by the chroma downsample."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import decode_jpeg, encode_jpeg

        yy, xx = np.mgrid[0:37, 0:53]
        img = np.stack(
            [np.clip(yy * 4, 0, 255), np.clip(xx * 3, 0, 255),
             np.clip(128 + yy - xx, 0, 255)], axis=-1,
        ).astype(np.uint8)
        blob = encode_jpeg(img, 90, subsampling="420")
        dec = decode_jpeg(blob)
        assert dec.shape == img.shape
        assert float(np.mean(np.abs(dec.astype(float) - img.astype(float)))) < 3.0
        assert len(blob) < len(encode_jpeg(img, 90))  # chroma really shrank
        # restart markers compose with 4:2:0 MCU geometry
        dri = decode_jpeg(encode_jpeg(img, 90, subsampling="420", restart_interval=3))
        assert (dri == dec).all()


class TestPngExtendedLayouts:
    """Round-4 PNG completeness: Adam7 interlace, 16-bit, sub-8-bit."""

    def _chunk(self, ctype, body):
        import zlib

        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return len(body).to_bytes(4, "big") + ctype + body + crc.to_bytes(4, "big")

    def test_adam7_interlace_round_trip_all_color_types(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        rng = np.random.default_rng(11)
        # odd dims, degenerate 1-px rows/cols, every channel count
        for shape in [(9, 13, 3), (8, 8, 4), (5, 4), (16, 16, 2), (1, 7, 3), (7, 1)]:
            img = rng.integers(0, 256, shape, np.uint8)
            got = decode_png(encode_png(img, interlace=True))
            want = img if img.ndim == 3 else img[:, :, None]
            assert got.shape == want.shape and (got == want).all(), shape

    def test_16bit_takes_high_byte(self):
        import zlib

        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            _PNG_SIG,
            decode_png,
        )

        rng = np.random.default_rng(7)
        hi = rng.integers(0, 256, (3, 5), np.uint8)
        raw = b"".join(
            b"\x00" + bytes(v for px in row for v in (int(px), 0x7F))
            for row in hi
        )
        ihdr = (5).to_bytes(4, "big") + (3).to_bytes(4, "big") + bytes(
            [16, 0, 0, 0, 0]
        )
        png = (
            _PNG_SIG + self._chunk(b"IHDR", ihdr)
            + self._chunk(b"IDAT", zlib.compress(raw))
            + self._chunk(b"IEND", b"")
        )
        assert (decode_png(png)[:, :, 0] == hi).all()

    def test_4bit_gray_scales_to_full_range(self):
        import zlib

        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            _PNG_SIG,
            decode_png,
        )

        vals = [[0, 15, 7, 3, 12], [1, 2, 3, 4, 5]]  # odd width: pad bits
        rows = []
        for row in vals:
            byts = []
            for i in range(0, len(row), 2):
                byts.append((row[i] << 4) | (row[i + 1] if i + 1 < len(row) else 0))
            rows.append(b"\x00" + bytes(byts))
        ihdr = (5).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes(
            [4, 0, 0, 0, 0]
        )
        png = (
            _PNG_SIG + self._chunk(b"IHDR", ihdr)
            + self._chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + self._chunk(b"IEND", b"")
        )
        exp = (np.array(vals, np.uint16) * 17).astype(np.uint8)  # 255/15
        assert (decode_png(png)[:, :, 0] == exp).all()

    def test_2bit_palette_indices_pass_through(self):
        import zlib

        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            _PNG_SIG,
            decode_png,
        )

        pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
        idx = [[0, 1, 2, 3, 0], [3, 2, 1, 0, 1]]
        rows = []
        for row in idx:
            b_, n, byts = 0, 0, []
            for v in row:
                b_, n = (b_ << 2) | v, n + 1
                if n == 4:
                    byts.append(b_)
                    b_, n = 0, 0
            if n:
                byts.append(b_ << (2 * (4 - n)))
            rows.append(b"\x00" + bytes(byts))
        ihdr = (5).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes(
            [2, 3, 0, 0, 0]
        )
        png = (
            _PNG_SIG + self._chunk(b"IHDR", ihdr)
            + self._chunk(b"PLTE", pal)
            + self._chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + self._chunk(b"IEND", b"")
        )
        exp = np.frombuffer(pal, np.uint8).reshape(-1, 3)[np.array(idx)]
        assert (decode_png(png) == exp).all()

    def test_randomized_codec_properties(self):
        """Seeded randomized sweep (repo property-test style): for random
        dims (incl. 1x1 and 1-px strips), channel counts, qualities, and
        subsampling, (a) decode(encode(img)) has the input's shape, (b)
        progressive and sequential decodes are bit-identical, (c) DRI
        round-trips equal the plain stream."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import decode_jpeg, encode_jpeg

        rng = np.random.default_rng(42)
        for trial in range(12):
            h = int(rng.integers(1, 25))
            w = int(rng.integers(1, 25))
            c = int(rng.choice([1, 3]))
            q = int(rng.choice([35, 60, 85, 95]))
            shape = (h, w) if c == 1 else (h, w, c)
            img = rng.integers(0, 256, shape, np.uint8)
            sub = "420" if (c == 3 and trial % 2) else "444"
            seq = decode_jpeg(encode_jpeg(img, q, subsampling=sub))
            assert seq.shape == (h, w, c), (shape, sub)
            prog = decode_jpeg(
                encode_jpeg(img, q, progressive=True, subsampling=sub)
            )
            assert (prog == seq).all(), (shape, q, sub)
            dri = decode_jpeg(
                encode_jpeg(img, q, restart_interval=2, subsampling=sub)
            )
            assert (dri == seq).all(), (shape, q, sub)

    def test_resize_media_jpg_output_format(self, spark):
        """resize_media can re-encode to JPEG ('jpg' in _IMAGE_ENCODERS):
        output mime + decodable payload + requested dims (content is lossy,
        so dims and approximate value are the contract)."""
        import numpy as np

        from pyspark.sql import functions as F

        from data_etl_with_dbt_spark.operators.multimodal import (
            decode_jpeg,
            encode_png,
            resize_media,
        )

        img = np.full((8, 8, 3), 120, np.uint8)
        media = spark.createDataFrame(
            [(1, bytearray(encode_png(img)))], "media_id long, content binary"
        ).select(
            "media_id",
            "content",
            F.struct(
                F.lit("image/png").alias("mime"),
                F.octet_length("content").cast("long").alias("n_bytes"),
                F.lit("t").alias("source"),
            ).alias("meta"),
        )
        row = resize_media(media, 4, 4, output_format="jpg").first()
        assert row.meta.mime == "image/jpeg"
        got = decode_jpeg(bytes(row.content))
        assert got.shape == (4, 4, 3)
        assert abs(int(got.mean()) - 120) <= 2


class TestGifCodec:
    """Round-4 GIF frame decode (operators/gif.py): LZW, interlace,
    disposal, transparency — fixtures from our own encoder plus
    independently-encoded system files."""

    def test_lzw_round_trips_across_width_growth_and_reset(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.gif import _lzw_decode, _lzw_encode

        rng = np.random.default_rng(9)
        for n, pal in [(10, 4), (4000, 8), (20000, 64), (70000, 256)]:
            data = bytes(rng.integers(0, pal, n, np.uint8))
            mcs = max(2, (pal - 1).bit_length())
            assert bytes(_lzw_decode(mcs, _lzw_encode(mcs, data), n)) == data

    def test_frame_round_trips(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.gif import decode_gif, encode_gif

        img = np.zeros((5, 7, 3), np.uint8)
        img[2:, 3:] = [255, 0, 0]
        img[0] = [0, 255, 0]
        frames, delays = decode_gif(encode_gif([img]))
        assert len(frames) == 1 and (frames[0] == img).all()
        f2 = img.copy()
        f2[:, :2] = [0, 0, 255]
        frames, delays = decode_gif(encode_gif([img, f2], delays_cs=[10, 25]))
        assert delays == [10, 25]
        assert (frames[0] == img).all() and (frames[1] == f2).all()
        # interlace + a 256-color odd-dims image
        rng = np.random.default_rng(9)
        gray = rng.integers(0, 256, (33, 41), np.uint8)
        rgb = np.stack([gray, gray, gray], -1)
        for inter in (False, True):
            got, _ = decode_gif(encode_gif([rgb], interlace=inter))
            assert (got[0] == rgb).all(), inter

    def test_transparency_composition(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.gif import decode_gif, encode_gif

        base = np.full((4, 4, 3), 200, np.uint8)
        overlay = np.full((4, 4, 3), 77, np.uint8)  # 77 marked transparent
        overlay[1:3, 1:3] = [9, 9, 9]
        frames, _ = decode_gif(
            encode_gif([base, overlay], transparent_rgb=(77, 77, 77))
        )
        # frame 0 is fully opaque; frame 1's transparent pixels keep the
        # prior canvas while its opaque patch lands
        assert (frames[0] == 200).all()
        assert (frames[1][1:3, 1:3] == [9, 9, 9]).all()
        assert (frames[1][0, 0] == [200, 200, 200]).all()

    def test_gce_scopes_only_next_image(self):
        """Round-5 ADVICE regression: per GIF89a a Graphic Control
        Extension applies to ONLY the next image — a frame WITHOUT its own
        GCE must not inherit the previous frame's transparency/disposal.
        encode_gif always emits a GCE, so this is hand-built: frame 1
        carries a GCE marking index 1 transparent; frame 2 has no GCE and
        is all index 1, which must render opaque red."""
        from data_etl_with_dbt_spark.operators.gif import _lzw_encode, decode_gif

        def image_block(indices):
            mcs = 2
            lzw = _lzw_encode(mcs, bytes(indices))
            out = (
                b"\x2c"
                + (0).to_bytes(2, "little") * 2
                + (4).to_bytes(2, "little") * 2
                + b"\x00"
                + bytes([mcs])
            )
            for i in range(0, len(lzw), 255):
                sub = lzw[i : i + 255]
                out += bytes([len(sub)]) + sub
            return out + b"\x00"

        gif = (
            b"GIF89a"
            + (4).to_bytes(2, "little") * 2
            + bytes([0x80, 0, 0])  # 2-entry global palette, bg index 0
            + bytes([10, 10, 10, 250, 0, 0])
            # frame 1: GCE transparent_idx=1 (packed 0x01), delay 0
            + b"\x21\xf9\x04\x01\x00\x00\x01\x00"
            + image_block([0] * 16)
            # frame 2: NO GCE, all index 1
            + image_block([1] * 16)
            + b"\x3b"
        )
        frames, delays = decode_gif(gif)
        assert (frames[0] == 10).all()
        assert (frames[1] == [250, 0, 0]).all()  # inherited GCE would keep 10
        assert delays == [0, 0]

    def test_decodes_system_gifs_and_feeds_dhash(self, spark):
        import os

        import numpy as np

        from pyspark.sql import functions as F

        from data_etl_with_dbt_spark.operators.gif import decode_gif
        from data_etl_with_dbt_spark.operators.multimodal import image_dhash

        path = (
            "/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
            "python3.11/idlelib/Icons/idle_32.gif"
        )
        if not os.path.exists(path):
            import pytest as _pytest

            _pytest.skip("no system sample GIF in this container")
        blob = open(path, "rb").read()
        frames, _ = decode_gif(blob)
        assert frames[0].shape == (32, 32, 3)
        assert float(np.asarray(frames[0]).std()) > 0  # real pixels
        # GIF media now participates in perceptual dedup via _decode_image
        media = spark.createDataFrame(
            [(1, bytearray(blob))], "media_id long, content binary"
        ).select(
            "media_id",
            "content",
            F.struct(
                F.lit("image/gif").alias("mime"),
                F.octet_length("content").cast("long").alias("n_bytes"),
                F.lit("t").alias("source"),
            ).alias("meta"),
        )
        row = image_dhash(media).first()
        assert row is not None and row.dhash is not None


class TestWavCompressedFormats:
    """Round-4 WAV coverage beyond PCM16: G.711 mu-law/A-law expansion
    (validated against the SUN g711.c reference compressors) and IMA ADPCM
    block decode (validated against a step-table reference model)."""

    @staticmethod
    def _wav(fmt, channels, rate, bits, data, block_align=None):
        ba = block_align if block_align else max(1, channels * bits // 8)
        fmtc = (
            fmt.to_bytes(2, "little") + channels.to_bytes(2, "little")
            + rate.to_bytes(4, "little") + (rate * ba).to_bytes(4, "little")
            + ba.to_bytes(2, "little") + bits.to_bytes(2, "little")
        )
        chunks = (
            b"fmt " + len(fmtc).to_bytes(4, "little") + fmtc
            + b"data" + len(data).to_bytes(4, "little") + data
        )
        return (
            b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks
        )

    @staticmethod
    def _linear2ulaw(pcm):
        sign = 0x80 if pcm < 0 else 0
        pcm = min(abs(pcm), 32635) + 0x84
        exp, mask = 7, 0x4000
        while (pcm & mask) == 0 and exp > 0:
            exp, mask = exp - 1, mask >> 1
        return ~(sign | (exp << 4) | ((pcm >> (exp + 3)) & 0x0F)) & 0xFF

    @staticmethod
    def _linear2alaw(pcm):
        mask = 0xD5 if pcm >= 0 else 0x55
        pcm = min(abs(pcm), 32767)
        if pcm >= 256:
            exp, m = 7, 0x4000
            while (pcm & m) == 0 and exp > 1:
                exp, m = exp - 1, m >> 1
            aval = (exp << 4) | ((pcm >> (exp + 3)) & 0x0F)
        else:
            aval = pcm >> 4
        return aval ^ mask

    def test_g711_expansion_inverts_reference_compressors(self):
        from data_etl_with_dbt_spark.operators.multimodal import decode_wav

        for val in [0, 100, 1000, -1000, 8000, -30000, 32124]:
            s, _ = decode_wav(
                self._wav(7, 1, 8000, 8, bytes([self._linear2ulaw(val)]))
            )
            assert abs(int(s[0, 0]) - val) <= max(16, abs(val) // 16), ("u", val)
        for val in [0, 100, 1000, -1000, 8000, -30000]:
            s, _ = decode_wav(
                self._wav(6, 1, 8000, 8, bytes([self._linear2alaw(val)]))
            )
            assert abs(int(s[0, 0]) - val) <= max(32, abs(val) // 8), ("a", val)

    def test_pcm8_and_ima_adpcm(self):
        import random

        from data_etl_with_dbt_spark.operators.multimodal import decode_wav

        s, _ = decode_wav(self._wav(1, 1, 8000, 8, bytes([128, 255, 0])))
        assert list(s[:, 0]) == [0, 127 << 8, -128 << 8]
        # IMA ADPCM mono block vs a straight-line reference model
        random.seed(3)
        pred0, idx0 = 1000, 20
        nibbles = [random.randrange(16) for _ in range(8)]
        body = bytes(
            (nibbles[i + 1] << 4) | nibbles[i] for i in range(0, 8, 2)
        )
        block = (
            pred0.to_bytes(2, "little", signed=True) + bytes([idx0, 0]) + body
        )
        s, _ = decode_wav(
            self._wav(0x11, 1, 8000, 4, block, block_align=len(block))
        )
        STEPS = [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28,
                 31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107,
                 118, 130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
                 337, 371, 408, 449, 494, 544, 598, 658, 724, 796, 876,
                 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
                 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
                 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
                 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
                 27086, 29794, 32767]
        ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]
        p, i, ref = pred0, idx0, [pred0]
        for nib in nibbles:
            st = STEPS[i]
            d = st >> 3
            if nib & 1:
                d += st >> 2
            if nib & 2:
                d += st >> 1
            if nib & 4:
                d += st
            p = p - d if nib & 8 else p + d
            p = max(-32768, min(32767, p))
            i = max(0, min(88, i + ADJ[nib & 7]))
            ref.append(p)
        assert list(s[:, 0]) == ref

    def test_ieee_float_wav_scales_to_int16(self):
        import struct

        from data_etl_with_dbt_spark.operators.multimodal import decode_wav

        data = struct.pack("<4f", 0.0, 1.0, -1.0, 0.5)
        s, rate = decode_wav(self._wav(3, 1, 8000, 32, data))
        assert list(s[:, 0]) == [0, 32767, -32767, 16384]

    def test_ms_adpcm_matches_reference_model(self):
        import struct

        from data_etl_with_dbt_spark.operators.multimodal import decode_wav

        # mono block: predictor 0, delta 16, s1=100, s2=50, nibbles 1,2,9,F
        block = bytes([0]) + struct.pack("<hhh", 16, 100, 50) + bytes([0x12, 0x9F])
        s, _ = decode_wav(self._wav(2, 1, 8000, 4, block, len(block)))
        ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
                 768, 614, 512, 409, 307, 230, 230, 230]
        s2v, s1v, delta, ref = 50, 100, 16, [50, 100]
        for nib in (0x1, 0x2, 0x9, 0xF):
            pred = (s1v * 256) >> 8  # coef pair 0 = (256, 0)
            signed = nib - 16 if nib & 8 else nib
            val = max(-32768, min(32767, pred + signed * delta))
            s2v, s1v = s1v, val
            delta = max(16, (ADAPT[nib] * delta) >> 8)
            ref.append(val)
        assert list(s[:, 0]) == ref

    def test_unsupported_wav_still_refuses(self):
        import pytest as _pytest

        from data_etl_with_dbt_spark.operators.multimodal import decode_wav

        with _pytest.raises(NotImplementedError, match="unsupported WAV"):
            decode_wav(self._wav(85, 1, 8000, 0, b"\0" * 8))  # MP3-in-WAV


class TestCodecTruncationFuzz:
    """Symmetric to the JPEG truncation sweep: every prefix of valid
    PNG/GIF/WAV streams either raises a clean error or returns a
    well-formed result — never hangs, never an unexpected exception."""

    def _sweep(self, blob, decode, ok_shapes):
        for k in range(2, len(blob), 5):
            try:
                out = decode(blob[:k])
            except (ValueError, NotImplementedError, IndexError, KeyError):
                continue
            except Exception as ex:  # zlib.error etc. wrap as clean types
                import zlib

                assert isinstance(ex, zlib.error), type(ex)
                continue
            ok_shapes(out)

    def test_png_gif_wav_prefixes(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.gif import decode_gif, encode_gif
        from data_etl_with_dbt_spark.operators.multimodal import (
            decode_png,
            decode_wav,
            encode_png,
            encode_wav,
        )

        rng = np.random.default_rng(21)
        img = rng.integers(0, 256, (9, 11, 3), np.uint8)
        self._sweep(
            encode_png(img), decode_png,
            lambda o: (_ for _ in ()).throw(AssertionError(o.shape))
            if o.shape != (9, 11, 3) else None,
        )
        gif = encode_gif([(img & 0xE0)])
        self._sweep(
            gif, lambda b: decode_gif(b)[0][0],
            lambda o: (_ for _ in ()).throw(AssertionError(o.shape))
            if o.shape != (9, 11, 3) else None,
        )
        tone = (np.sin(np.arange(200)) * 1000).astype(np.int16)[:, None]
        self._sweep(
            encode_wav(tone, 8000), decode_wav, lambda o: None
        )

    def test_meta_parser_prefixes(self):
        """Round-5 parser family under the same sweep: WebP/TIFF/FLAC
        metadata, MP3 frame walk, and WARC record walk — prefixes parse
        or raise cleanly (WARC/MP3 additionally promise prefix RESULTS,
        never exceptions)."""
        from data_etl_with_dbt_spark.operators.multimodal import (
            encode_flac_headers,
            encode_mp3_headers,
            encode_tiff_headers,
            encode_webp_headers,
            parse_flac_meta,
            parse_tiff_meta,
            parse_webp_meta,
            walk_mp3_frames,
        )
        from data_etl_with_dbt_spark.sources.warc import encode_warc, parse_warc

        self._sweep(
            encode_webp_headers(33, 44, "VP8X", is_animated=True),
            parse_webp_meta,
            lambda m: None,
        )
        self._sweep(
            encode_tiff_headers([(12, 34), (5, 6)]), parse_tiff_meta,
            lambda m: None,
        )
        self._sweep(
            encode_flac_headers(8000, 1, 16, 12345), parse_flac_meta,
            lambda m: None,
        )
        mp3 = encode_mp3_headers([64, 128, 320] * 4)
        for k in range(0, len(mp3), 7):
            assert isinstance(walk_mp3_frames(mp3[:k]), list)  # never raises
        warc = encode_warc(
            [{"warc_type": "resource", "block": b"x" * 37} for _ in range(3)]
        )
        for k in range(0, len(warc), 11):
            assert isinstance(parse_warc(warc[:k]), list)  # never raises
        gz = encode_warc(
            [{"warc_type": "resource", "block": b"y" * 37}], gzip_members=True
        )
        for k in range(0, len(gz), 7):
            assert isinstance(parse_warc(gz[:k]), list)


class TestAviMjpeg:
    """MJPEG AVI: real video frame decode (RIFF walk + per-frame JPEG),
    header-only metadata, and the Spark-side frame-sampling operator."""

    @staticmethod
    def _frames():
        import numpy as np

        yy, xx = np.mgrid[0:24, 0:32]
        f1 = np.stack(
            [np.clip(yy * 8, 0, 255), np.clip(xx * 6, 0, 255),
             np.full_like(yy, 100)], -1,
        ).astype(np.uint8)
        return [f1, np.roll(f1, 5, axis=1), f1]

    def test_round_trip_and_meta(self):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            decode_avi_mjpeg,
            encode_avi_mjpeg,
            parse_avi_meta,
        )

        fs = self._frames()
        blob = encode_avi_mjpeg(fs, fps=12.5)
        frames, fps = decode_avi_mjpeg(blob)
        assert len(frames) == 3 and abs(fps - 12.5) < 0.1
        err = float(np.mean(np.abs(frames[0].astype(float) - fs[0].astype(float))))
        assert err < 4.0  # JPEG-lossy but faithful
        assert len(decode_avi_mjpeg(blob, max_frames=1)[0]) == 1
        m = parse_avi_meta(blob)
        assert (m["width"], m["height"], m["n_frames"], m["fourcc"]) == (
            32, 24, 3, "MJPG",
        )
        assert abs(m["duration_seconds"] - 3 / 12.5) < 1e-9

    def test_only_first_video_stream_decodes(self):
        """Round-5 ADVICE regression: AVI stream numbers are strh order;
        only the FIRST vids stream's ##dc/##db chunks may contribute
        frames. Two cases: (a) two video streams — stream 1's frames must
        not interleave into stream 0's; (b) video is stream 1 behind an
        audio stream — its 01dc chunks decode, and a non-JPEG 00dc chunk
        from another stream is ignored instead of raising."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import encode_jpeg
        from data_etl_with_dbt_spark.operators.multimodal import decode_avi_mjpeg

        def chunk(cid, body):
            pad = b"\x00" if len(body) & 1 else b""
            return cid + len(body).to_bytes(4, "little") + body + pad

        def lst(kind, body):
            return chunk(b"LIST", kind + body)

        ja = encode_jpeg(np.full((8, 8, 3), 30, np.uint8), 90)
        jb = encode_jpeg(np.full((8, 8, 3), 220, np.uint8), 90)
        avih = int(1e6 / 10).to_bytes(4, "little") + b"\x00" * 36
        strh_v = b"vids" + b"MJPG" + b"\x00" * 40

        # (a) two video streams
        hdrl = lst(
            b"hdrl",
            chunk(b"avih", avih)
            + lst(b"strl", chunk(b"strh", strh_v))
            + lst(b"strl", chunk(b"strh", strh_v)),
        )
        movi = lst(
            b"movi",
            chunk(b"00dc", ja) + chunk(b"01dc", jb) + chunk(b"00dc", ja),
        )
        body = b"AVI " + hdrl + movi
        frames, fps = decode_avi_mjpeg(
            b"RIFF" + len(body).to_bytes(4, "little") + body
        )
        assert len(frames) == 2  # the 01dc frame is stream 1's, skipped
        assert all(abs(float(f.mean()) - 30) < 5 for f in frames)
        assert abs(fps - 10) < 0.1

        # (b) audio stream first: video is stream 01
        hdrl2 = lst(
            b"hdrl",
            chunk(b"avih", avih)
            + lst(b"strl", chunk(b"strh", b"auds" + b"\x00" * 44))
            + lst(b"strl", chunk(b"strh", strh_v)),
        )
        movi2 = lst(
            b"movi",
            chunk(b"00dc", b"\x01\x02\x03\x04") + chunk(b"01dc", jb),
        )
        body2 = b"AVI " + hdrl2 + movi2
        frames2, _ = decode_avi_mjpeg(
            b"RIFF" + len(body2).to_bytes(4, "little") + body2
        )
        assert len(frames2) == 1
        assert abs(float(frames2[0].mean()) - 220) < 5

    def test_every_n_decode_matches_full_decode_sampling(self):
        """Pushed-down sampling (round-5 scale fix): decoding with
        every_n/max_frames must return exactly the frames a full decode
        would sample — same pixels, and skipped chunks never decoded."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import (
            decode_avi_mjpeg,
            encode_avi_mjpeg,
        )

        fs = self._frames() * 4  # 12 frames
        blob = encode_avi_mjpeg(fs, fps=10)
        full, _ = decode_avi_mjpeg(blob)
        for every_n, cap in [(1, None), (3, None), (5, 2), (4, 1)]:
            got, _ = decode_avi_mjpeg(blob, max_frames=cap, every_n=every_n)
            want = full[::every_n][: cap if cap is not None else len(full)]
            assert len(got) == len(want), (every_n, cap)
            for g, w in zip(got, want):
                assert (np.asarray(g) == np.asarray(w)).all()

        # dropped-frame placeholders (0-byte ##dc chunks, real capture
        # AVIs): excluded from BOTH full decode and the sampled stride, so
        # equivalence holds across the gap (round-5 review finding)
        from data_etl_with_dbt_spark.operators.jpeg import encode_jpeg

        def chunk(cid, body):
            pad = b"\x00" if len(body) & 1 else b""
            return cid + len(body).to_bytes(4, "little") + body + pad

        def lst(kind, body):
            return chunk(b"LIST", kind + body)

        payloads = [encode_jpeg(f, 90) for f in fs[:4]]
        hdrl = lst(
            b"hdrl",
            chunk(b"avih", int(1e5).to_bytes(4, "little") + b"\x00" * 36)
            + lst(b"strl", chunk(b"strh", b"vids" + b"MJPG" + b"\x00" * 40)),
        )
        movi_body = (
            chunk(b"00dc", payloads[0])
            + chunk(b"00dc", b"")  # dropped frame
            + chunk(b"00dc", payloads[1])
            + chunk(b"00dc", payloads[2])
            + chunk(b"00dc", b"")
            + chunk(b"00dc", payloads[3])
        )
        body = b"AVI " + hdrl + lst(b"movi", movi_body)
        holey = b"RIFF" + len(body).to_bytes(4, "little") + body
        full_h, _ = decode_avi_mjpeg(holey)
        assert len(full_h) == 4
        for every_n in (2, 3):
            got, _ = decode_avi_mjpeg(holey, every_n=every_n)
            want = full_h[::every_n]
            assert len(got) == len(want), every_n
            for g, w in zip(got, want):
                assert (np.asarray(g) == np.asarray(w)).all()

    def test_mjpeg_frames_may_omit_dht(self):
        """MJPEG convention: frames without DHT decode with the Annex-K
        default tables — strip every DHT from a frame and re-wrap."""
        import numpy as np

        from data_etl_with_dbt_spark.operators.jpeg import decode_jpeg, encode_jpeg

        img = self._frames()[0]
        blob = encode_jpeg(img, 85)
        out, pos = bytearray(blob[:2]), 2
        while pos + 4 <= len(blob):
            m = blob[pos + 1]
            size = int.from_bytes(blob[pos + 2 : pos + 4], "big")
            if m != 0xC4:
                out += blob[pos : pos + 2 + size]
            pos += 2 + size
            if m == 0xDA:
                out += blob[pos:]
                break
        assert (decode_jpeg(bytes(out)) == decode_jpeg(blob)).all()

    def test_sample_media_frames_explodes_avi_and_gif(self, spark):
        import numpy as np

        from pyspark.sql import functions as F

        from data_etl_with_dbt_spark.operators.gif import encode_gif
        from data_etl_with_dbt_spark.operators.multimodal import (
            decode_png,
            encode_avi_mjpeg,
            sample_media_frames,
        )

        fs = self._frames()
        avi = encode_avi_mjpeg(fs * 2, fps=10)  # 6 frames
        gif_frames = [(f & 0xC0) for f in fs]
        gif = encode_gif(gif_frames, delays_cs=[10, 20, 30])
        rows = [(1, bytearray(avi), "video/x-msvideo"),
                (2, bytearray(gif), "image/gif"),
                (3, bytearray(b"not media"), "text/plain")]
        media = spark.createDataFrame(
            rows, "media_id long, content binary, mime string"
        ).select(
            "media_id",
            "content",
            F.struct(
                F.col("mime").alias("mime"),
                F.octet_length("content").cast("long").alias("n_bytes"),
                F.lit("t").alias("source"),
            ).alias("meta"),
        )
        out = sample_media_frames(media, every_n=2).collect()
        by_id = {}
        for r in out:
            by_id.setdefault(r.media_id, []).append(r)
        assert len(by_id[1]) == 3  # frames 0,2,4 of 6
        assert [r.frame_idx for r in sorted(by_id[2], key=lambda r: r.frame_idx)] == [0, 2]
        # GIF t_seconds accumulate the per-frame delays (0cs, then 10+20cs)
        t = {r.frame_idx: r.t_seconds for r in by_id[2]}
        assert t[0] == 0.0 and abs(t[2] - 0.3) < 1e-9
        assert 3 not in by_id  # non-media row skipped, not failed
        # frames round-trip as decodable PNG at the source resolution
        png = bytes(sorted(by_id[1], key=lambda r: r.frame_idx)[0].frame_png)
        assert decode_png(png).shape == (24, 32, 3)
        # max_frames caps per file AND bounds the GIF decode depth
        # (gif_cap = (max_frames-1)*every_n + 1): same leading indices
        capped = sample_media_frames(media, every_n=2, max_frames=1).collect()
        by_id_c = {}
        for r in capped:
            by_id_c.setdefault(r.media_id, []).append(r.frame_idx)
        assert by_id_c == {1: [0], 2: [0]}


class TestRound5ReviewFixes:
    """Regression pins for the round-5 high-effort review of textan/dedup."""

    def test_bpe_pair_counts_no_single_char_fabrication(self, spark):
        from data_etl_with_dbt_spark.operators.textan import bpe_pair_counts

        df = spark.createDataFrame([("a a a bb",)], "text string")
        pairs = {r.pair: r.cnt for r in bpe_pair_counts(df, "text", min_word_len=1).collect()}
        # 1-char words carry no adjacent pair; only 'bb' contributes
        assert pairs == {"bb": 1}

    def test_repetition_stats_zero_token_doc(self, spark):
        from data_etl_with_dbt_spark.operators.textan import repetition_stats

        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "x y x y")], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in repetition_stats(df, "doc_id", "text").collect()}
        for did in (1, 2):  # empty/whitespace: all-zero stats, no fabricated bigram
            r = rows[did]
            assert (r.n_tokens, r.top_bigram_cnt) == (0, 0)
            assert r.dup_token_frac == 0.0 and r.top_bigram_share == 0.0
        assert rows[3].n_tokens == 4 and rows[3].top_bigram_cnt == 2

    def test_lang_id_no_evidence_predicts_und(self, spark):
        from data_etl_with_dbt_spark.operators.textan import lang_id_scores

        df = spark.createDataFrame(
            [(1, ""), (2, "zzz qqq xxx"), (3, "the of and to")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r.predicted_lang for r in lang_id_scores(df, "doc_id", "text").collect()}
        assert rows[1] == "und" and rows[2] == "und"
        assert rows[3] == "en"

    def test_simhash_and_hamming_parameter_validation(self, spark):
        import pytest as _pytest

        from data_etl_with_dbt_spark.operators.dedup import (
            hamming_near_pairs,
            simhash,
        )

        df = spark.createDataFrame([(1, "a b c")], "id long, text string")
        with _pytest.raises(ValueError, match=r"\[1, 63\]"):
            simhash(df, "id", "text", bits=64)
        fps = spark.createDataFrame([(1, 5), (2, 5)], "id long, fp long")
        with _pytest.raises(ValueError, match="bands need width"):
            hamming_near_pairs(fps, "id", "fp", bits=8, max_hamming=8)

    def test_intake_signature_recipe_guard(self, spark, tmp_path):
        import pytest as _pytest

        from data_etl_with_dbt_spark.streaming.intake import minhash_intake_sink

        index = str(tmp_path / "sig_index")
        corpus = str(tmp_path / "sig_corpus")
        batch = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        sink = minhash_intake_sink(index, corpus, "doc_id", "text",
                                   signature_impl="jvm", num_hashes=16)
        sink(batch, batch_id=0)
        # same recipe: fine
        minhash_intake_sink(index, corpus, "doc_id", "text",
                            signature_impl="jvm", num_hashes=16)(
            batch.withColumn("doc_id", F.col("doc_id") + 1), batch_id=1
        )
        # different impl or k: loud failure before any signatures mix
        for kwargs in ({"signature_impl": "arrow", "num_hashes": 16},
                       {"signature_impl": "jvm", "num_hashes": 32}):
            bad = minhash_intake_sink(index, corpus, "doc_id", "text", **kwargs)
            with _pytest.raises(ValueError, match="incomparable across recipes"):
                bad(batch.withColumn("doc_id", F.col("doc_id") + 9), batch_id=2)


class TestRound5ReviewFixesSimilaritySketch:
    """Regression pins for the round-5 review of similarity/graph/sketch."""

    def test_arrow_topk_zero_norm_and_typed_ids(self, spark):
        from data_etl_with_dbt_spark.operators.similarity import (
            brute_force_topk,
            brute_force_topk_arrow,
        )

        rows = [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("z", [0.0, 0.0])]
        emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
        q = spark.createDataFrame(
            [("q1", [1.0, 0.0])], "query_id string, embedding array<double>"
        )
        got = brute_force_topk_arrow(
            emb, q, id_col="vec_id", vec_col="embedding", k=2
        ).collect()
        # string ids pass through; the zero vector scores 0, never NaN,
        # so it cannot displace real neighbors at the top
        assert [r.vec_id for r in sorted(got, key=lambda r: -r.cosine)] == ["a", "b"]
        assert all(r.cosine == r.cosine for r in got)  # no NaN

    def test_pq_train_rejects_indivisible_dim(self, spark):
        import pytest as _pytest

        from data_etl_with_dbt_spark.operators.similarity import pq_train

        emb = spark.createDataFrame(
            [(i, [float(i)] * 70) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        with _pytest.raises(ValueError, match="not divisible"):
            pq_train(emb, m=8, k=4)

    def test_kmv_ungrouped_avoids_single_partition_window(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import kmv_build
        from data_etl_with_dbt_spark.plans import lint

        df = spark.range(5000).select(F.col("id").alias("k"))
        sk = kmv_build(df, "k", k=16)
        assert sk.count() == 16
        # global smallest-k compiles to TakeOrdered, not an empty-keyed
        # window that funnels every distinct hash through one task
        assert not any(
            f.code == "single-partition" for f in lint.lint_plan(sk)
        ), lint.plan_text(sk)

    def test_bloom_decontaminate_type_mismatch_raises(self, spark):
        import pytest as _pytest

        from data_etl_with_dbt_spark.operators.sketch import bloom_decontaminate

        docs = spark.createDataFrame([("1",), ("2",)], "key string")
        ref = spark.createDataFrame([(1,)], "key long")
        with _pytest.raises(ValueError, match="false"):
            bloom_decontaminate(docs, ref, "key", "key", expected_keys=10)

    def test_cms_null_keys_and_derived_join_depth(self, spark):
        from data_etl_with_dbt_spark.operators.sketch import (
            cms_build,
            cms_estimate,
            cms_join_size,
        )

        df = spark.createDataFrame(
            [("a",), ("a",), (None,), (None,), (None,)], "k string"
        )
        cms = cms_build(df, "k", depth=3, width=64)
        est = {
            r.k: r.est_count
            for r in cms_estimate(
                cms, spark.createDataFrame([("a",), (None,)], "k string"),
                "k", depth=3, width=64,
            ).collect()
        }
        # nulls neither count nor inflate; their estimate is 0, not NULL
        assert est["a"] == 2 and est[None] == 0
        # join size derives the row spine from the sketches: a depth-3
        # build no longer under-estimates to 0 under the old default
        # depth=4 spine
        [row] = cms_join_size(cms, cms).collect()
        assert row.est_join_size >= 4  # >= true self-join size (2*2)


class TestCodecTriageReviewFixes:
    """Round-5 review regressions for the multimodal family's documented
    'skip, not fail' posture: corrupt crawl payloads (truncated GIFs,
    moov-less MP4s, torn PNGs, RIFF-but-not-WAVE containers) must be
    skipped/passed-through by every triage operator, never kill the task."""

    @staticmethod
    def _media_df(spark, rows):
        return spark.createDataFrame(
            rows, "media_id long, content binary, mime string"
        ).select(
            "media_id",
            "content",
            F.struct(
                F.col("mime").alias("mime"),
                F.octet_length("content").cast("long").alias("n_bytes"),
                F.lit("t").alias("source"),
            ).alias("meta"),
        )

    @staticmethod
    def _png(shade):
        import numpy as np

        from data_etl_with_dbt_spark.operators.multimodal import encode_png

        rgb = np.full((8, 8, 3), shade, dtype=np.uint8)
        rgb[::2, ::2] = 255 - shade  # texture so dHash has gradients
        return encode_png(rgb)

    def test_truncated_gif_skipped_not_raised(self, spark):
        from data_etl_with_dbt_spark.operators.gif import encode_gif
        from data_etl_with_dbt_spark.operators.multimodal import (
            sample_media_frames,
        )
        import numpy as np

        frames = [np.full((6, 6, 3), v, dtype=np.uint8) for v in (0, 128)]
        gif = encode_gif(frames, delays_cs=[10, 10])
        torn = gif[: len(gif) - 8]  # tear inside the LZW sub-block walk
        media = self._media_df(
            spark,
            [(1, bytearray(torn), "image/gif"),
             (2, bytearray(gif), "image/gif")],
        )
        out = sample_media_frames(media, every_n=1).collect()
        ids = {r.media_id for r in out}
        assert 2 in ids and len([r for r in out if r.media_id == 2]) == 2
        # the torn payload contributed nothing and did not fail the job
        assert all(r.media_id == 2 for r in out) or 1 in ids

    def test_moovless_mp4_skipped_in_sample_frame_times(self, spark):
        from data_etl_with_dbt_spark.operators.multimodal import (
            sample_frame_times,
        )

        good = TestContainerMetadata._mini_mp4(duration=2, timescale=1, tracks=1)
        ftyp_only = good[:16]  # valid ftyp box, no moov reachable
        media = self._media_df(
            spark,
            [(1, bytearray(good), "video/mp4"),
             (2, bytearray(ftyp_only), "video/mp4")],
        )
        got = [(r.media_id, r.frame_no) for r in sample_frame_times(media, fps=1.0).collect()]
        assert got == [(1, 0), (1, 1)]

    def test_spectral_decoder_rejects_riff_non_wave(self):
        from data_etl_with_dbt_spark.operators.multimodal import (
            spectral_decoder,
        )

        avi_ish = b"RIFF" + (1000).to_bytes(4, "little") + b"AVI " + b"\x00" * 64
        webp_ish = b"RIFF" + (1000).to_bytes(4, "little") + b"WEBP" + b"\x00" * 64
        assert spectral_decoder(avi_ish, "video/x-msvideo") == []
        assert spectral_decoder(webp_ish, "image/webp") == []
        # a torn WAV (declared mime) yields [] instead of raising
        assert spectral_decoder(b"RIFF\x00\x00\x00\x00WAVE", "audio/wav") == []

    def test_spectral_pass_over_mixed_modalities_survives(self, spark):
        from data_etl_with_dbt_spark.operators.multimodal import (
            extract_media_features,
            spectral_decoder,
        )

        avi_ish = b"RIFF" + (64).to_bytes(4, "little") + b"AVI " + b"\x00" * 64
        media = self._media_df(spark, [(1, bytearray(avi_ish), "video/x-msvideo")])
        rows = extract_media_features(media, decoder=spectral_decoder).collect()
        assert len(rows) == 1 and rows[0].feature == []

    def test_corrupt_image_dropped_by_dhash_and_passed_by_resize(self, spark):
        from data_etl_with_dbt_spark.operators.multimodal import (
            image_dhash,
            resize_media,
        )

        good = self._png(40)
        p = self._png(200)
        torn = p[: len(p) * 3 // 5]  # tear mid-IDAT: inflate cannot finish
        media = self._media_df(
            spark,
            [(1, bytearray(good), "image/png"),
             (2, bytearray(torn), "image/png")],
        )
        hashes = image_dhash(media).collect()
        assert [r.media_id for r in hashes] == [1]
        resized = {r.media_id: r for r in resize_media(media, 2, 2).collect()}
        # undecodable image passes through byte-identical
        assert bytes(resized[2].content) == bytes(torn)
        assert resized[2].meta.mime == "image/png"
        assert bytes(resized[1].content) != bytes(good)  # real resize ran

    def test_frame_sample_stub_zero_frames_zero_rows(self, spark):
        from data_etl_with_dbt_spark.operators.multimodal import (
            frame_sample_stub,
        )

        media = self._media_df(
            spark,
            [(1, bytearray(b"tiny"), "video/mp4"),       # 4 bytes < every_n
             (2, bytearray(b"x" * 25), "video/mp4")],    # 25 // 10 = 2 frames
        )
        got = sorted(
            (r.media_id, r.frame_no)
            for r in frame_sample_stub(media, every_n=10).collect()
        )
        assert got == [(2, 0), (2, 1)]


class TestRelationalMlReviewFixes:
    """Round-5 review regressions: asof NULL payloads and numeric keys,
    footer-stats None guards, compaction swap safety, null-key groups in
    the trimmed-mean twin, NaN-safe CV selection, live text_col params,
    and calibration without model mutation."""

    def test_asof_join_carries_null_payload_of_true_match(self, spark):
        import datetime as dt

        from data_etl_with_dbt_spark.operators.relational import asof_join

        left = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 10, 0))], "k long, t timestamp"
        )
        right = spark.createDataFrame(
            [
                (1, dt.datetime(2024, 1, 1, 9, 0), 5.0),
                (1, dt.datetime(2024, 1, 1, 9, 30), None),
            ],
            "k long, t timestamp, px double",
        )
        [row] = asof_join(
            left, right, on="k", left_time="t", right_time="t",
            right_payload=["px"],
        ).collect()
        # the true match (09:30) has px NULL; 5.0 would be a STALE carry
        assert row.px is None
        # forward mirror: true match is the NULL row at 09:30 looking back
        # from 09:10
        left2 = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 9, 10))], "k long, t timestamp"
        )
        [fwd] = asof_join(
            left2, right, on="k", left_time="t", right_time="t",
            right_payload=["px"], direction="forward",
        ).collect()
        assert fwd.px is None
        # tolerance applies to the true match's distance, not the stale row
        [tol] = asof_join(
            left, right, on="k", left_time="t", right_time="t",
            right_payload=["px"], tolerance="45 minutes",
        ).collect()
        assert tol.px is None

    def test_asof_nearest_supports_numeric_time_keys(self, spark):
        from data_etl_with_dbt_spark.operators.relational import asof_join

        left = spark.createDataFrame([(1, 100)], "k long, t long")
        right = spark.createDataFrame(
            [(1, 90, "a"), (1, 104, "b")], "k long, t long, v string"
        )
        [row] = asof_join(
            left, right, on="k", left_time="t", right_time="t",
            right_payload=["v"], direction="nearest",
        ).collect()
        assert row.v == "b"  # gap 4 beats gap 10

    def test_stats_index_tolerates_statless_chunks(self, spark, tmp_path):
        from data_etl_with_dbt_spark.operators.layout import (
            pruned_read,
            stats_index,
        )

        p = str(tmp_path / "mixed")
        spark.createDataFrame([(1, 10.0)], "id long, x double").coalesce(
            1
        ).write.parquet(p)
        spark.createDataFrame(
            [(2, None)], "id long, x double"
        ).coalesce(1).write.mode("append").parquet(p)
        idx = stats_index(p, ["x"])
        bounds = {e["x_min"] for e in idx}
        assert None in bounds and 10.0 in bounds
        df, stats = pruned_read(spark, p, "x", 0.0, 100.0)
        # the statless file is conservatively read, never pruned or crashed
        assert stats["files_total"] == 2 and stats["files_read"] == 2
        assert [r.id for r in df.collect()] == [1]

    def test_trimmed_mean_builtin_keeps_null_key_group(self, spark):
        from data_etl_with_dbt_spark.functions.udaf import (
            trimmed_mean_builtin,
        )

        df = spark.createDataFrame(
            [(None, 1.0), (None, 2.0), (None, 3.0), ("a", 5.0)],
            "k string, v double",
        )
        got = {r.k: r.trimmed_mean for r in trimmed_mean_builtin(df, ["k"], "v").collect()}
        assert got["a"] == 5.0
        assert got[None] == pytest.approx(2.0)  # NULL group not dropped

    def test_cv_selection_ignores_nan_folds(self):
        from data_etl_with_dbt_spark.ml.quality import _select_best_reg

        nan = float("nan")
        # first grid entry NaN-poisoned, second has a real average
        best, avg = _select_best_reg(
            [0.0, 0.01], [(0.0, nan), (0.0, 0.9), (0.01, 0.7), (0.01, 0.8)]
        )
        assert best == 0.0 and avg[0.0] == pytest.approx(0.9)
        # a fully-NaN entry is excluded even if listed first
        best2, _ = _select_best_reg(
            [0.0, 0.01], [(0.0, nan), (0.0, nan), (0.01, 0.6), (0.01, 0.8)]
        )
        assert best2 == 0.01
        with pytest.raises(ValueError, match="single-class"):
            _select_best_reg([0.0], [(0.0, nan)])

    def test_score_quality_honors_text_col(self, spark):
        from data_etl_with_dbt_spark.ml.quality import (
            score_quality,
            train_quality_classifier,
        )

        labeled = spark.createDataFrame(
            [("good clean prose", 1.0), ("zz spam zz", 0.0)] * 10,
            "text string, label double",
        )
        model = train_quality_classifier(labeled, use_bigrams=False, max_iter=5)
        docs = spark.createDataFrame(
            [(1, "good clean prose"), (2, "zz spam zz")],
            "doc_id long, body string",
        )
        got = {r.doc_id: r.quality_prob for r in
               score_quality(model, docs, text_col="body").collect()}
        assert got[1] > got[2]  # 'body' was actually scored

    def test_apply_calibration_does_not_mutate_model(self, spark):
        from data_etl_with_dbt_spark.ml.quality import (
            apply_calibration,
            calibrate_isotonic,
        )

        scored = spark.createDataFrame(
            [(0.1, 0.0), (0.4, 0.0), (0.6, 1.0), (0.9, 1.0)],
            "quality_prob double, label double",
        )
        iso = calibrate_isotonic(scored)
        other = scored.withColumnRenamed("quality_prob", "raw_score")
        out = apply_calibration(iso, other, prob_col="raw_score")
        assert "calibrated_prob" in out.columns and out.count() == 4
        # the shared model still reads its fitted column
        assert iso.getFeaturesCol() == "quality_prob"


class TestMixtureZeroTokenDomain:
    def test_budgeted_zero_token_domain_keeps_rows_cross_engine(self, spark):
        """Round-5 review: budget/0 tokens is Infinity in Spark (keeps all)
        but NULL in DuckDB (drops all) — the operators now guard the zero-
        token domain explicitly (rate min(1, b/0) = 1) and the oracles
        mirror it, so a regenerated fixture with an empty-text domain can't
        diverge the engines."""
        import duckdb

        from data_etl_with_dbt_spark.operators.textan import (
            mixture_sample,
            temperature_mixture_sample,
        )

        rows = [(1, "src0", ""), (2, "src0", "   "), (3, "src1", "a b c d")]
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        m = mixture_sample(docs, "doc_id", "source", "text",
                           budgets={"src0": 100, "src1": 2})
        assert sorted(r.doc_id for r in m.where(m.source == "src0").collect()) == [1, 2]
        t = temperature_mixture_sample(docs, "doc_id", "source", "text",
                                       target_tokens=10, alpha=0.5)
        assert sorted(r.doc_id for r in t.where(t.source == "src0").collect()) == [1, 2]
        # the guarded oracle shape keeps the same rows in DuckDB
        con = duckdb.connect()
        con.execute("CREATE TABLE d AS SELECT * FROM (VALUES (1,'src0',''),(2,'src0','   '),(3,'src1','a b c d')) t(doc_id, source, text)")
        [n] = con.execute(r"""
            WITH base AS (
                SELECT doc_id, source,
                       CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                            x -> x <> '')) AS BIGINT) AS n_tokens
                FROM d),
            totals AS (SELECT source, sum(n_tokens) AS dt FROM base GROUP BY source),
            budgets(source, budget) AS (VALUES ('src0', 100), ('src1', 2)),
            rates AS (
                SELECT t.source,
                       CASE WHEN b.budget IS NULL OR t.dt <= 0 THEN 65536
                            ELSE CAST(floor(CAST(b.budget AS DOUBLE) / t.dt * 65536) AS BIGINT)
                       END AS thresh
                FROM totals t LEFT JOIN budgets b ON t.source = b.source)
            SELECT count(*) FROM base JOIN rates ON base.source = rates.source
            WHERE base.source = 'src0' AND thresh >= 65536
        """).fetchone()
        assert n == 2


class TestAsofNullPayloadProperty:
    def test_agrees_with_pandas_on_null_payloads(self, spark):
        """Randomized pandas agreement WITH NULL payload values (round-5
        review: the per-column ignorenulls carry skipped a true match's
        NULL for a staler value). A never-null rid column identifies the
        matched ROW, so a NULL v is distinguishable from 'no match'."""
        import random

        import pandas as pd

        from data_etl_with_dbt_spark.operators.relational import asof_join

        rng = random.Random(11)
        lrows = sorted(
            [(rng.randint(1, 3), TS(rng.randint(0, 59), rng.randint(0, 59)), i)
             for i in range(60)],
            key=lambda r: r[1],
        )
        rrows = []
        seen = set()
        for i in range(40):
            k, t = rng.randint(1, 3), TS(rng.randint(0, 59), rng.randint(0, 59))
            if (k, t) in seen:
                continue
            seen.add((k, t))
            v = None if rng.random() < 0.4 else float(i)  # 40% NULL payloads
            rrows.append((k, t, i, v))
        rrows.sort(key=lambda r: r[1])
        left = spark.createDataFrame(lrows, "k int, t timestamp, lid int")
        right = spark.createDataFrame(rrows, "k int, t timestamp, rid int, v double")
        lp = pd.DataFrame(lrows, columns=["k", "t", "lid"])
        rp = pd.DataFrame(rrows, columns=["k", "t", "rid", "v"])
        for direction in ("backward", "forward", "nearest"):
            got = {
                r.lid: (r.rid, r.v)
                for r in asof_join(
                    left, right, "k", "t", "t", ["rid", "v"],
                    strict=False, direction=direction,
                ).collect()
            }
            want_df = pd.merge_asof(
                lp.sort_values("t"), rp.sort_values("t"),
                on="t", by="k", direction=direction,
            )
            want = {
                int(r.lid): (
                    None if pd.isna(r.rid) else int(r.rid),
                    None if pd.isna(r.v) else float(r.v),
                )
                for r in want_df.itertuples()
            }
            assert got == want, direction


class TestChunkDocuments:
    """textan.chunk_documents: overlapping in-document token windows."""

    def _chunks(self, spark, text, chunk=5, stride=3):
        from data_etl_with_dbt_spark.operators.textan import chunk_documents

        df = spark.createDataFrame([(1, text)], "id long, text string")
        return sorted(
            (r.chunk_id, r.chunk_start, r.chunk_len, r.chunk_text)
            for r in chunk_documents(
                df, "id", "text", chunk_tokens=chunk, stride=stride
            ).collect()
        )

    def test_short_doc_single_chunk(self, spark):
        assert self._chunks(spark, "a b c") == [(0, 0, 3, "a b c")]

    def test_exact_boundary_single_chunk(self, spark):
        assert self._chunks(spark, "a b c d e") == [(0, 0, 5, "a b c d e")]

    def test_overlap_and_tail(self, spark):
        # 8 tokens, chunk 5 stride 3 -> starts 0, 3: [0,5), [3,8)
        got = self._chunks(spark, "a b c d e f g h")
        assert got == [
            (0, 0, 5, "a b c d e"),
            (1, 3, 5, "d e f g h"),
        ]

    def test_last_chunk_reaches_end_no_suffix_chunks(self, spark):
        # 9 tokens: starts 0, 3, 6 -> last covers [6, 9); start 9 is not
        # emitted even though 9 < n + stride
        got = self._chunks(spark, "a b c d e f g h i")
        assert [g[0] for g in got] == [0, 1, 2]
        assert got[-1] == (2, 6, 3, "g h i")
        # every token is covered by at least one chunk
        covered = set()
        for _, s, ln, _t in got:
            covered |= set(range(s, s + ln))
        assert covered == set(range(9))

    def test_case_preserved_empty_doc_dropped(self, spark):
        from data_etl_with_dbt_spark.operators.textan import chunk_documents

        df = spark.createDataFrame(
            [(1, "Foo BAR"), (2, "   "), (3, None)], "id long, text string"
        )
        rows = chunk_documents(
            df, "id", "text", chunk_tokens=5, stride=3
        ).collect()
        assert len(rows) == 1 and rows[0].chunk_text == "Foo BAR"

    def test_stride_validation(self, spark):
        import pytest as _pytest

        from data_etl_with_dbt_spark.operators.textan import chunk_documents

        df = spark.createDataFrame([(1, "a b")], "id long, text string")
        with _pytest.raises(ValueError, match="stride"):
            chunk_documents(df, "id", "text", chunk_tokens=5, stride=6)
        with _pytest.raises(ValueError, match="stride"):
            chunk_documents(df, "id", "text", chunk_tokens=5, stride=0)

    def test_no_text_mode(self, spark):
        from data_etl_with_dbt_spark.operators.textan import chunk_documents

        df = spark.createDataFrame([(1, "a b c")], "id long, text string")
        out = chunk_documents(
            df, "id", "text", chunk_tokens=2, stride=1, emit_text=False
        )
        assert "chunk_text" not in out.columns and out.count() == 2

    def test_randomized_against_reference(self, spark):
        """Seeded brute-force twin: for random (n, chunk, stride) the
        Spark output must equal the one-line Python reference — covering
        start grid, tail shape, chunk count, and full token coverage."""
        import random

        from data_etl_with_dbt_spark.operators.textan import chunk_documents

        rng = random.Random(4242)
        cases = []
        for did in range(40):
            n = rng.randint(1, 60)
            cases.append((did, " ".join(f"t{did}_{j}" for j in range(n))))
        chunk = rng.randint(2, 12)
        stride = rng.randint(1, chunk)
        df = spark.createDataFrame(cases, "id long, text string")
        got = {
            (r.id, r.chunk_id): (r.n_chunks, r.chunk_start, r.chunk_len, r.chunk_text)
            for r in chunk_documents(
                df, "id", "text", chunk_tokens=chunk, stride=stride
            ).collect()
        }
        expect = {}
        for did, text in cases:
            t = text.split()
            n = len(t)
            nc = 1 if n <= chunk else 1 + -((n - chunk) // -stride)
            for i in range(nc):
                s = i * stride
                body = t[s : s + chunk]
                expect[(did, i)] = (nc, s, len(body), " ".join(body))
        assert got == expect
