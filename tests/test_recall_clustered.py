"""Absolute ANN quality floors (VERDICT r6 item 2).

On the driver's near-random embeddings every quantizer sits near its
worst case, so recall@10 there is only a relative signal. The seeded
clustered corpus (sources/synthetic.py) has its true top-k intra-blob
by construction, so these floors are ABSOLUTE: the whole chain
(generator, quantizer, probe) is deterministic for a fixed seed, which
makes the asserted values stable, not flaky.

Measured on the default corpus (n=4000, 32 blobs, sigma=0.05, seed=7):
IVF@nprobe4 = 1.0, LSH@multiprobe1 = 0.8, PQ-ADC = 0.15,
PQ-refine = 0.4125 raw (init-only codebook, the raw default); residual
encoding (round 7) with the round-8 production default of a 4-iter
Lloyd-refined codebook measures ADC 0.2875 / refine 0.70 — all tracked
in bench.py's ``recall_at_10_clustered`` block, whose
``pq_clears_floor`` floors (ADC >= 0.25, refine >= 0.5) are asserted
here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def clustered(spark):
    from s3_access_logs_spark.sources.synthetic import clustered_embeddings

    emb = clustered_embeddings(spark).persist()
    emb.count()
    yield emb
    emb.unpersist()


def _recall(exact: dict[int, set[int]], df) -> float:
    got: dict[int, set[int]] = {}
    for r in df.select("query_id", "neighbor_id").collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    per_q = [
        len(got.get(q, set()) & hits) / len(hits)
        for q, hits in exact.items()
    ]
    return sum(per_q) / len(per_q)


@pytest.fixture(scope="module")
def exact_top10(clustered):
    from s3_access_logs_spark.operators.similarity import brute_force_topk

    queries = clustered.filter(F.col("vec_id") < 8)
    out: dict[int, set[int]] = {}
    for r in brute_force_topk(clustered, queries, k=10).collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert len(out) == 8 and all(len(v) == 10 for v in out.values())
    return out


@pytest.fixture(scope="module")
def raw_ivfpq(clustered, tmp_path_factory):
    """The raw (non-residual) PQ index over the clustered corpus with
    ``label_centroids``, built once per module; its users only read it.
    ``(cents, idx, idx_cents, idx_cb)``."""
    from s3_access_logs_spark.operators.similarity import (
        build_ivfpq_index,
        label_centroids,
    )

    cents = label_centroids(clustered, "label", dims=64)
    idx = str(tmp_path_factory.mktemp("raw_ivfpq") / "raw")
    idx_cents, idx_cb = build_ivfpq_index(clustered, idx, centroids=cents)
    return cents, idx, idx_cents, idx_cb


@pytest.fixture(scope="module")
def residual_ivfpq(clustered, raw_ivfpq, tmp_path_factory):
    """The PRODUCTION-DEFAULT residual index over the clustered corpus —
    same ``label_centroids`` quantizer as ``raw_ivfpq``, codebook trained
    by the build's default ``train_pq_codebook(residuals, refine_iters=4)``
    — built once per module; its users only read it.
    ``(idx, idx_cents, idx_cb)``."""
    from s3_access_logs_spark.operators.similarity import build_ivfpq_index

    cents = raw_ivfpq[0]
    idx = str(tmp_path_factory.mktemp("residual_ivfpq") / "res")
    idx_cents, idx_cb = build_ivfpq_index(
        clustered, idx, centroids=cents, residual=True
    )
    return idx, idx_cents, idx_cb


class TestClusteredRecall:
    def test_generator_contract(self, clustered):
        from s3_access_logs_spark.operators.similarity import (
            VEC_ABS_MAX,
            well_formed_vector,
        )

        assert clustered.count() == 4000
        assert clustered.filter(
            ~well_formed_vector("embedding", 64)
        ).count() == 0
        mx = clustered.select(
            F.max(F.aggregate(
                "embedding", F.lit(0.0),
                lambda a, x: F.greatest(a, F.abs(x)),
            )).alias("m")
        ).first()["m"]
        assert mx < VEC_ABS_MAX

    def test_true_neighbors_are_intra_blob(self, clustered, exact_top10):
        """The premise the floors rest on: the exact top-10 of each query
        shares the query's blob almost always."""
        lab = {
            r["vec_id"]: r["label"]
            for r in clustered.select("vec_id", "label").collect()
        }
        hits = [
            lab[n] == lab[q] for q, ns in exact_top10.items() for n in ns
        ]
        assert sum(hits) / len(hits) >= 0.95

    def test_ivf_nprobe4_clears_absolute_floor(self, clustered, exact_top10):
        from s3_access_logs_spark.operators.similarity import (
            ivf_topk,
            label_centroids,
        )

        cents = label_centroids(clustered, "label", dims=64)
        queries = clustered.filter(F.col("vec_id") < 8)
        r = _recall(
            exact_top10,
            ivf_topk(clustered, queries, k=10, nprobe=4, centroids=cents),
        )
        assert r >= 0.8, f"IVF recall@10 {r} under the absolute floor"

    def test_lsh_multiprobe_floor(self, clustered, exact_top10):
        from s3_access_logs_spark.operators.similarity import (
            lsh_bucketed_topk,
        )

        queries = clustered.filter(F.col("vec_id") < 8)
        r = _recall(
            exact_top10,
            lsh_bucketed_topk(clustered, queries, k=10, multiprobe=1),
        )
        assert r >= 0.5, f"LSH recall@10 {r} under the clustered floor"

    def test_pq_refine_improves_on_adc(
        self, spark, clustered, exact_top10, raw_ivfpq
    ):
        from s3_access_logs_spark.operators.similarity import (
            probe_ivfpq_index,
        )

        _, idx, cb_cents, codebook = raw_ivfpq
        queries = clustered.filter(F.col("vec_id") < 8)
        adc = _recall(
            exact_top10,
            probe_ivfpq_index(
                spark, idx, queries, cb_cents, codebook, k=10, nprobe=4
            ),
        )
        refined = _recall(
            exact_top10,
            probe_ivfpq_index(
                spark, idx, queries, cb_cents, codebook,
                k=10, nprobe=4, refine_corpus=clustered,
            ),
        )
        assert refined >= adc, (adc, refined)
        # = bench.py pq_floor_refine_raw (VERDICT r8 item 4): margin
        # under the measured raw-refine 0.4125 on this corpus
        assert refined >= 0.3, f"PQ refine recall@10 {refined} collapsed"

    def test_residual_encoding_beats_raw(
        self, spark, clustered, exact_top10, raw_ivfpq, residual_ivfpq
    ):
        """Round-7 quality fix for the honest gap the clustered table
        exposed (commit 2ab28bd): raw PQ spends its whole code budget
        re-describing the blob's position, so every same-blob member
        gets one code tuple and ADC loses within-cell ordering to
        tie-breaks (measured 0.15). Residual encoding spends it on the
        within-cell offset instead. These are the PRODUCTION-DEFAULT
        builds (round 8: residual defaults to a 4-iter Lloyd-refined
        codebook — measured ADC 0.2875 / refine 0.70 on this corpus;
        raw stays init-only because refinement hurts it across the
        board), and the asserted values are bench.py's
        ``pq_clears_floor`` floors: a PQ quality regression fails HERE,
        not just as a smaller printed number."""
        from s3_access_logs_spark.operators.similarity import (
            probe_ivfpq_index,
        )

        _, raw_idx, raw_cents, raw_cb = raw_ivfpq
        res_idx, res_cents, res_cb = residual_ivfpq
        queries = clustered.filter(F.col("vec_id") < 8)
        raw_adc = _recall(
            exact_top10,
            probe_ivfpq_index(
                spark, raw_idx, queries, raw_cents, raw_cb, k=10, nprobe=4
            ),
        )
        res_adc = _recall(
            exact_top10,
            probe_ivfpq_index(
                spark, res_idx, queries, res_cents, res_cb,
                k=10, nprobe=4, residual=True,
            ),
        )
        res_ref = _recall(
            exact_top10,
            probe_ivfpq_index(
                spark, res_idx, queries, res_cents, res_cb,
                k=10, nprobe=4, residual=True, refine_corpus=clustered,
            ),
        )
        assert res_adc > raw_adc, (raw_adc, res_adc)
        # bench.py pq_floor_adc_residual / pq_floor_refine_residual
        assert res_adc >= 0.25, f"residual ADC recall@10 {res_adc}"
        assert res_ref >= 0.5, f"residual refine recall@10 {res_ref}"
        # raw floor (VERDICT r8 item 4, bench.py pq_floor_adc_raw):
        # raw ADC is legitimately weaker (measured 0.15) but a collapse
        # below 0.1 is a quality regression, not corpus noise. (The raw
        # REFINE floor, pq_floor_refine_raw = 0.3, is asserted by
        # test_pq_refine_improves_on_adc above.)
        assert raw_adc >= 0.1, f"raw ADC recall@10 {raw_adc} collapsed"

    def test_lloyd_refined_codebook_lifts_refine_recall(
        self, spark, clustered, exact_top10, raw_ivfpq, residual_ivfpq,
        tmp_path,
    ):
        """train_pq_codebook(refine_iters=N): k-means refinement after
        the hyperplane-bucket init. Measured on this corpus (all
        deterministic, so the asserted values are stable): the refined
        codebook's candidate set is more DIVERSE — the refine-stage
        recall jumps 0.575 -> 0.70 at 4 iterations — while pure-ADC
        ordering drops slightly (0.3375 -> 0.2875); the honest summary
        is that refinement helps the production two-stage path and is
        not a free win for raw ADC ranking. All 16 codes per subspace
        survive (no cell death)."""
        from pyspark.sql.functions import broadcast

        from s3_access_logs_spark.operators.similarity import (
            _assign_clusters,
            _residual_col,
            build_ivfpq_index,
            probe_ivfpq_index,
            train_pq_codebook,
        )

        cents = raw_ivfpq[0]
        queries = clustered.filter(F.col("vec_id") < 8)
        c = clustered.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
        )
        assigned = _assign_clusters(c, cents, "c_vec", 1)
        cv = cents.select(
            F.col("label").alias("cluster"),
            F.col("centroid").alias("_cent"),
        )
        resid = (
            assigned.join(broadcast(cv), "cluster")
            .withColumn("r_vec", _residual_col("c_vec", "_cent", 64))
            .drop("_cent")
        )
        cb = train_pq_codebook(resid, "r_vec", dims=64, m=8, refine_iters=0)
        idx = str(tmp_path / "it0")
        # iters=4: the shared production-default residual index, whose
        # build trained exactly train_pq_codebook(<these residuals>,
        # "r_vec", dims=64, m=8, refine_iters=4) under the same quantizer
        builds = {
            0: (idx, *build_ivfpq_index(
                clustered, idx, centroids=cents, codebook=cb, residual=True,
            )),
            4: residual_ivfpq,
        }
        recalls = {}
        for iters, (idx, b_cents, b_cb) in builds.items():
            assert b_cb.count() == 8 * 16, "cell death in refinement"
            recalls[iters] = _recall(
                exact_top10,
                probe_ivfpq_index(
                    spark, idx, queries, b_cents, b_cb,
                    k=10, nprobe=4, residual=True,
                    refine_corpus=clustered,
                ),
            )
        assert recalls[4] >= recalls[0], recalls
        assert recalls[4] >= 0.65, recalls
