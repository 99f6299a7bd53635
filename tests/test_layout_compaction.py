"""Serving-artifact compaction: the persisted LSH index and IVF
layouts accumulate one small file per incremental append; compaction
must (a) actually shrink the file count to target, (b) leave probe /
candidate / serving results bit-identical (layout is never allowed to
change answers), and (c) preserve the properties the scans rely on —
band_key footer stats for the LSH probe, hive partition pruning for
the IVF probe.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from jly_flink_spark.io import load_table
from jly_flink_spark.operators import dedup, similarity
from jly_flink_spark.sources.layout import compact_index

SF_DIR = "/root/testdata/sf0.001"


def _parquet_files(path: str) -> list[str]:
    return glob.glob(f"{path}/**/*.parquet", recursive=True)


class TestLshIndexCompaction:
    @pytest.fixture()
    def fragmented_index(self, spark, tmp_path):
        docs = load_table(spark, SF_DIR, "documents")
        base = docs.filter(F.col("doc_id") % 10 < 5)
        path = str(tmp_path / "lsh_index")
        dedup.persist_lsh_index(base, path)
        # simulate a long-running ingest: one small append per
        # micro-batch
        for i in range(5, 10):
            dedup.append_to_lsh_index(
                docs.filter(F.col("doc_id") % 10 == i), path
            )
        return docs, path

    def test_compaction_shrinks_files_and_preserves_probes(
        self, spark, tmp_path, fragmented_index
    ):
        docs, path = fragmented_index
        probes = docs.filter(F.col("doc_id") % 17 == 3)

        def probe_set():
            return {
                (r["new_doc_id"], r["corpus_doc_id"], r["band_key"])
                for r in dedup.stream_near_dup_candidates(
                    probes, spark.read.parquet(path)
                ).collect()
            }

        n_before_files = len(_parquet_files(path))
        rows_before = spark.read.parquet(path).count()
        want = probe_set()
        assert want  # the probe test must test something

        n_files = compact_index(
            spark, path, dedup.LSH_INDEX, target_rows_per_file=10_000_000
        )
        assert n_files == 1
        assert len(_parquet_files(path)) == 1 < n_before_files
        assert spark.read.parquet(path).count() == rows_before
        assert probe_set() == want

    def test_stream_probe_survives_mid_stream_compaction(
        self, spark, tmp_path, fragmented_index
    ):
        """The compaction-safe serving pattern: a streaming consumer
        that RE-RESOLVES the index per epoch (spark.read.parquet
        inside foreachBatch) sails through a compaction swap between
        micro-batches — candidates across the swap equal the batch-
        mode probe of all arrivals. (A static DataFrame resolved once
        at stream start would instead pin the deleted pre-swap file
        listing; the docstring of read_index spells this
        out.)"""
        import glob as _glob
        import shutil

        docs, path = fragmented_index
        probes = [
            docs.filter(F.col("doc_id") % 17 == 3),
            docs.filter(F.col("doc_id") % 17 == 5),
        ]
        src = tmp_path / "probe_stream"
        src.mkdir()
        for i, p in enumerate(probes):
            p.coalesce(1).write.mode("overwrite").parquet(
                str(tmp_path / f"stage_{i}")
            )
            part = _glob.glob(
                str(tmp_path / f"stage_{i}" / "part-*.parquet")
            )[0]
            shutil.copy(part, str(src / f"b{i}.parquet"))

        got: list = []
        state = {"compacted": False}

        def probe_batch(bdf, eid):
            idx = spark.read.parquet(path)  # re-resolve per epoch
            got.extend(
                (r["new_doc_id"], r["corpus_doc_id"], r["band_key"])
                for r in dedup.stream_near_dup_candidates(
                    bdf, idx
                ).collect()
            )
            if not state["compacted"]:
                compact_index(
                    spark, path, dedup.LSH_INDEX,
                    target_rows_per_file=10_000_000,
                )
                state["compacted"] = True

        q = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(probe_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert state["compacted"]

        all_probes = probes[0].unionAll(probes[1])
        want = {
            (r["new_doc_id"], r["corpus_doc_id"], r["band_key"])
            for r in dedup.stream_near_dup_candidates(
                all_probes, spark.read.parquet(path)
            ).collect()
        }
        assert set(got) == want and want

    def test_compaction_is_sorted_on_band_key(
        self, spark, tmp_path, fragmented_index
    ):
        """Footer-stat contract: rows inside each compacted file are
        band_key-ordered (that is what makes per-file min/max prune
        the probe join's scan)."""
        _, path = fragmented_index
        compact_index(
            spark, path, dedup.LSH_INDEX, target_rows_per_file=10_000_000
        )
        for f in _parquet_files(path):
            keys = [
                r["band_key"]
                for r in spark.read.parquet(f)
                .select("band_key")
                .collect()
            ]
            assert keys == sorted(keys)


class TestIvfLayoutCompaction:
    N_LIST, N_PROBE, K = 8, 3, 5
    QIDS = [3, 7, 11]

    @pytest.fixture()
    def fragmented_layout(self, spark, tmp_path):
        emb = load_table(spark, SF_DIR, "embeddings")
        cents = similarity.build_ivf_centroids(
            emb, n_list=self.N_LIST, refine=False
        )
        base = emb.filter(F.col("vec_id") % 3 != 2)
        path = str(tmp_path / "ivf_int8")
        similarity.persist_ivf_int8(base, path, cents)
        # incremental corpus additions: one small file per touched
        # hive partition per append batch
        similarity.append_to_ivf_int8(
            emb.filter(F.col("vec_id") % 3 == 2), path, cents
        )
        return emb, cents, path

    def test_appended_layout_equals_oneshot_build(
        self, spark, tmp_path, fragmented_layout
    ):
        """Build + append must produce exactly the rows a one-shot
        build over the full corpus produces — the shared derivation
        makes incremental ingest indistinguishable from a rebuild."""
        emb, cents, path = fragmented_layout
        oneshot = str(tmp_path / "ivf_oneshot")
        similarity.persist_ivf_int8(emb, oneshot, cents)

        def rows(p):
            return {
                (
                    r["vec_id"],
                    tuple(r["codes"]),
                    r["qn8"],
                    r["list_id"],
                )
                for r in spark.read.parquet(p).collect()
            }

        assert rows(path) == rows(oneshot) and rows(path)

    def test_ann_stream_survives_between_epoch_compaction(
        self, spark, tmp_path
    ):
        """serve_ann_stream re-resolves the layout path inside every
        micro-batch (serve_ann_topk takes a PATH, not a DataFrame), so
        a compact_ivf_layout swap between epochs is invisible to the
        stream: queries served before and after the swap together
        equal a one-shot batch serve."""
        import glob as _glob
        import shutil

        emb = load_table(spark, SF_DIR, "embeddings")
        cents = similarity.build_ivf_centroids(
            emb, n_list=self.N_LIST, refine=False
        )
        path = str(tmp_path / "ivf_float")
        similarity.persist_ivf_corpus(emb, path, cents)
        qids_by_epoch = [[3, 7], [11]]
        stream_dir = tmp_path / "queries"
        stream_dir.mkdir()

        def stage_queries(i):
            rows = emb.filter(
                F.col("vec_id").isin(qids_by_epoch[i])
            ).select("vec_id", "embedding")
            rows.coalesce(1).write.mode("overwrite").parquet(
                str(tmp_path / f"qstage_{i}")
            )
            part = _glob.glob(
                str(tmp_path / f"qstage_{i}" / "part-*.parquet")
            )[0]
            shutil.copy(part, str(stream_dir / f"epoch_{i}.parquet"))

        stage_queries(0)
        out_dir = str(tmp_path / "results")
        q = similarity.serve_ann_stream(
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir)),
            path,
            cents,
            out_dir,
            str(tmp_path / "ckpt"),
            k=self.K,
            n_probe=self.N_PROBE,
        )
        try:
            q.processAllAvailable()  # epoch 0 served pre-swap
            n_files_before = len(_parquet_files(path))
            similarity.compact_ivf_layout(spark, path, files_per_list=1)
            assert len(_parquet_files(path)) <= n_files_before
            stage_queries(1)
            q.processAllAvailable()  # epoch 1 served post-swap
        finally:
            q.stop()

        got = {
            (r["query_id"], r["cand_id"], r["rnk"])
            for r in spark.read.parquet(out_dir).collect()
        }
        all_ids = [i for qs in qids_by_epoch for i in qs]
        want = {
            (r["query_id"], r["cand_id"], r["rnk"])
            for r in similarity.serve_ann_topk(
                spark,
                emb.filter(F.col("vec_id").isin(all_ids)),
                path,
                cents,
                k=self.K,
                n_probe=self.N_PROBE,
            ).collect()
        }
        assert got == want and got

    def test_compaction_preserves_serving_and_pruning(
        self, spark, tmp_path, fragmented_layout
    ):
        emb, cents, path = fragmented_layout
        queries = emb.filter(F.col("vec_id").isin(self.QIDS))

        def serve():
            return {
                (r["query_id"], r["cand_id"], r["rnk"], r["cosine_q8"])
                for r in similarity.serve_ann_topk_int8(
                    spark, queries, path, cents,
                    k=self.K, n_probe=self.N_PROBE,
                ).collect()
            }

        n_before = len(_parquet_files(path))
        rows_before = spark.read.parquet(path).count()
        want = serve()
        assert want

        similarity.compact_ivf_layout(spark, path, files_per_list=1)
        files_after = _parquet_files(path)
        # one file per non-empty list partition, strictly fewer files
        n_lists = (
            spark.read.parquet(path)
            .select("list_id")
            .distinct()
            .count()
        )
        assert len(files_after) == n_lists < n_before
        assert spark.read.parquet(path).count() == rows_before
        # hive partitioning survived → partition pruning still applies
        assert all("list_id=" in f for f in files_after)
        probe = spark.read.parquet(path).filter(
            F.col("list_id").isin([0, 1])
        )
        import contextlib
        import io as _io

        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain("formatted")
        assert "PartitionFilters: [" in buf.getvalue()
        # served scores are layout-invariant
        assert serve() == want
