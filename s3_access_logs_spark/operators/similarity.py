"""Similarity search over embedding columns (engine extension,
BASELINE.json mandate).

Two tiers, same contract (query set -> top-k neighbors per query):

* brute force — exact, O(Q x N); right answer at verification scale and
  whenever Q is small enough that broadcast(queries) x scan(corpus) beats
  building an index. The per-pair cosine is a codegen'd fold, not a UDF.
* LSH-bucketed — random-hyperplane signs bucket the corpus once
  (deterministic planes -> reproducible); each query probes only its
  bucket(s). At 100 TB the corpus side stays partitioned by bucket on
  disk, so a query touches a fraction 1/2^m of the data. Approximate:
  recall < 1 (documented), which is why it is the scale path, not the
  oracle path.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from s3_access_logs_spark.operators.observed import observe
from s3_access_logs_spark.session import scoped_cache

from s3_access_logs_spark.functions.vectors import (
    cosine_from_norms,
    cosine_similarity,
    dot,
    l2_norm,
    random_projection_bucket,
)

# Fixed pseudo-random hyperplanes (8 planes x 64 dims) generated from a
# linear-congruential sequence — deterministic across runs and engines.
_LCG_A, _LCG_C, _LCG_M = 1_103_515_245, 12_345, 1 << 31


def _lcg_planes(n_planes: int, dims: int, seed: int = 42) -> list[list[float]]:
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dims):
            state = (_LCG_A * state + _LCG_C) % _LCG_M
            row.append((state / _LCG_M) * 2.0 - 1.0)
        planes.append(row)
    return planes


# Per-component magnitude bound of the well-formed-vector contract
# (review r7, ADVICE r6): finiteness alone is not enough — a
# huge-but-finite component (1e200) passes isfinite yet overflows every
# downstream dot/norm/distance to inf/NaN, whose sort order is
# engine-specific, and Spark's FLOOR(double) collapses inf to Long.MAX
# while DuckDB/numpy keep inf. Bounding |x| <= 1e4 (embeddings are
# unit-ish; the test corpus sits in [-0.53, 0.46]) keeps every rounded
# key far inside the floor-safe range: means <= 1e4, full-vector
# squared distances <= dims*(2e4)^2 ~ 2.6e10 at dims=64, so
# key*1e6 < 2^53 — exact in long AND double on both engines.
VEC_ABS_MAX = 1e4


def round_fixed(c, decimals: int = 6):
    """``floor(x * 10^d + 0.5) / 10^d`` in explicit double arithmetic —
    the repo-wide cross-engine rounding for every float that becomes a
    ranking/argmin key or an iterated artifact (kmeans / codebook means,
    PQ dsq / adist, refine dist). Unlike the decimal-string F.round vs
    DuckDB's binary ROUND (which disagree on .5-boundary doubles like
    0.5222235, ADVICE r6), floor over the same IEEE ops is bit-identical
    across Spark, DuckDB and numpy. Half-way values round toward +inf
    (not away from zero) — fine, because both engines apply the same
    formula. Valid only while ``|x|*10^d`` stays below 2^53 (Spark's
    FLOOR returns long; DuckDB's returns double; beyond 2^53 they can
    differ and Spark saturates inf to Long.MAX) — guaranteed in-contract
    by the ``VEC_ABS_MAX`` magnitude bound. NULL passes through; NaN/inf
    must be guarded by the caller (Spark FLOOR maps NaN to 0)."""
    f = F.lit(float(10**decimals))
    return F.floor(c * f + F.lit(0.5)).cast("double") / f


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_reduce: str = "jvm",
) -> DataFrame:
    """Exact top-k cosine neighbors: (query_id, neighbor_id, rank, sim).

    Queries are broadcast; the corpus is scanned once per partition with no
    shuffle until the final per-query top-k. Norms are projected once per
    side before the join, so each corpus row pays its l2 fold once instead
    of once per query.

    Before the ranking window, a per-partition top-k pre-reduce (VERDICT
    r3 item 4) bounds the window's input: each input slice keeps only its
    best ``k`` candidates per query under the FINAL total order (sim desc
    NULLS LAST, neighbor_id asc), so the window's exchange carries
    ~``slices x k x |queries|`` narrow rows instead of
    ``|corpus| x |queries|``, and no single window task ever sorts a
    corpus-sized group. Exact by construction: any row a slice drops has
    ``k`` better rows in that same slice under the same total order, so it
    cannot appear in the global top-k.

    ``pre_reduce`` selects the stage's engine (VERDICT r5 item 8 A/B):

    * ``"jvm"`` (default, A/B-equal wall time — no Python worker in the
      plan): group by (query_id, spark_partition_id) — every group is
      complete inside one map task — and fold each group to its top ``k``
      with ``slice(array_sort(collect_list(struct(key, id, sim))), 1,
      k)``, the ascending struct sort realizing the final total order
      (``key = coalesce(-sim, +inf)`` so NULL-sim rows — zero-norm
      vectors — sort LAST like the window's DESC NULLS LAST, never
      evicting real candidates). Honest cost note: collect_list's partial
      aggregate cannot truncate, so the AGG exchange itself still carries
      every scored row (packed as per-group arrays) — what this stage
      bounds is the window's sort groups and the window exchange, not
      total shuffle bytes. Memory is the task's candidate rows in one
      aggregation buffer — fine on this documented small-N oracle path
      (IVF / IVF-PQ / LSH are the scale paths; at a corpus size where a
      partition's candidates strain the buffer, brute force is already
      the wrong tier).
    * ``"arrow"``: the r3 Arrow-batched variant (numpy lexsort per
      ~10k-row batch; pandas sorts NaN last, same NULLS LAST order) —
      strictly bounded memory per batch AND truly reduces before any
      exchange (~batches x k x |queries| rows shuffled in total); prefer
      it when the corpus side is big enough for shuffle volume to matter
      more than a Python-free plan.
    """
    if pre_reduce not in ("jvm", "arrow"):
        raise ValueError(
            f"brute_force_topk: pre_reduce must be 'jvm' or 'arrow', "
            f"got {pre_reduce!r}"
        )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(vec_col).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(vec_col).alias("c_norm"),
    )
    scored = (
        c.join(broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        # NaN-sim -> NULL happens INSIDE cosine_from_norms (review r6,
        # moved to functions/vectors._no_nan in pass 8): a NaN row would
        # rank FIRST in the window but LAST in both pre-reduce orders,
        # flipping output with k and partition count. As NULL all three
        # orders agree (DESC NULLS LAST / +inf sentinel / NaN-last).
        .withColumn(
            "sim", cosine_from_norms("q_vec", "c_vec", "q_norm", "c_norm")
        )
        .select("query_id", "neighbor_id", "sim")  # narrow: vectors pruned
    )

    if pre_reduce == "jvm":
        # (coalesce(-sim, +inf), neighbor_id) ascending == (sim desc
        # NULLS LAST, neighbor asc): negation is exact in IEEE, and the
        # +inf sentinel sends NULL-sim rows (zero-norm vectors) to the
        # END of the sort so they can never evict a real candidate from
        # the k-slice (struct fields with NULLs would sort FIRST). The
        # true sim rides as a third struct field — neighbor_id is unique
        # per query, so the comparator never reaches it.
        top = F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.coalesce(
                            -F.col("sim"), F.lit(float("inf"))
                        ).alias("ns"),
                        F.col("neighbor_id").alias("nid"),
                        F.col("sim").alias("s"),
                    )
                )
            ),
            1,
            k,
        )
        reduced = (
            scored.withColumn("_p", F.spark_partition_id())
            .groupBy("query_id", "_p")
            .agg(top.alias("_top"))
            .select("query_id", F.explode("_top").alias("_t"))
            .select(
                "query_id",
                F.col("_t.nid").alias("neighbor_id"),
                F.col("_t.s").alias("sim"),
            )
        )
    else:

        def local_topk(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    yield pdf
                    continue
                # total order matching the final window
                yield (
                    pdf.sort_values(
                        ["query_id", "sim", "neighbor_id"],
                        ascending=[True, False, True],
                        kind="mergesort",
                    )
                    .groupby("query_id", sort=False)
                    .head(k)
                )

        reduced = scored.mapInPandas(local_topk, schema=scored.schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("sim", 6).alias("sim"),
        )
    )


def label_centroids(
    corpus: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    decimals: int = 6,
    dims: int | None = None,
) -> DataFrame:
    """(label, centroid: array<double>) — element-wise mean vector per
    label, as ``dims`` per-dimension ``avg(element_at(vec, i))`` aggregates
    in ONE hash aggregation. The r1 posexplode formulation blew each row up
    to ``dims`` (label, pos, val) rows — 64x the rows through the first
    aggregate and a second shuffle to reassemble; per-dim aggs keep the
    scan narrow, partial-aggregate map-side, and shuffle only
    nlist x dims x partitions scalars.

    Components are rounded to ``decimals`` so a cross-engine oracle
    (different float summation order) reproduces the centroids exactly and
    every downstream distance is bit-identical. ``dims`` is inferred from
    the first row when not given (one LIMIT-1 job).

    NULL labels define NO centroid (review r6 pass 12): a NULL-label
    group would carry a NULL into the quantizer, where its tie-break
    order is engine-specific (Spark's struct sort puts NULL first,
    DuckDB's ORDER BY puts it last) and ``_assign_clusters`` now
    rejects it loud — rows with a NULL label still get ASSIGNED to
    real centroids downstream; they just don't train one."""
    corpus = corpus.filter(F.col(label_col).isNotNull())
    if dims is None:
        first = corpus.select(vec_col).first()
        if first is None or first[0] is None:
            raise ValueError(
                "label_centroids: empty corpus (or first vector NULL) — "
                "cannot infer dims; pass dims= explicitly"
            )
        dims = len(first[0])
    v = F.col(vec_col)
    # round_fixed, not F.round (review r7, ADVICE r6): the AVG input is
    # a float sum whose order differs between engines, and decimal
    # F.round vs DuckDB's binary ROUND additionally disagree on
    # .5-boundary doubles — the floor formula removes the latter
    # entirely, so the means the oracle re-derives stay bit-identical
    per = corpus.groupBy(F.col(label_col).alias("label")).agg(
        *[
            round_fixed(
                F.avg(F.element_at(v, i).cast("double")), decimals
            ).alias(f"_m{i}")
            for i in range(1, dims + 1)
        ]
    )
    return per.select(
        "label",
        F.array(*[F.col(f"_m{i}") for i in range(1, dims + 1)]).alias("centroid"),
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int,
    vec_col: str = "embedding",
    max_iter: int = 10,
    tol: float = 1e-4,
    sample_fraction: float | None = None,
    init: list | None = None,
    decimals: int = 6,
    dims: int | None = None,
    allow_fewer: bool = False,
) -> DataFrame:
    """Train ``k`` centroids with distributed Lloyd's iterations (spherical
    k-means: assignment by cosine, matching how :func:`ivf_topk` /
    :func:`build_ivf_index` / :func:`semantic_dedup` will later probe
    them), so an IVF index no longer needs a pre-labeled corpus.

    Shape per iteration — the textbook scalable k-means plan:

    * **assign**: :func:`_assign_clusters` with ``n_best=1`` — centroids
      ride in ONE broadcast row, the corpus is never shuffled;
    * **update**: one hash aggregation of per-dimension means
      (``groupBy(cluster)`` of ``dims`` avgs, map-side partial — the
      shuffle carries k x dims x partitions scalars, not data);
    * **converge**: the k new centroids are collected (k rows) and the
      max component shift is compared against ``tol`` driver-side —
      the same tiny control-plane collect the IVF plan build already
      does (`plans/vector_queries.py:190`).

    So the cost is ``iterations`` corpus scans and nothing quadratic. At
    100 TB you do not Lloyd the full corpus: pass ``sample_fraction`` — a
    deterministic hash-rate filter (``xxhash64(vec) % 1e6``, the
    mixture-sampling mechanism, no shuffle) — train on the sample, then
    assign the full corpus ONCE via :func:`build_ivf_index`.

    Determinism: seeds are the ``k`` distinct vectors with the smallest
    ``xxhash64`` (TakeOrderedAndProject, no full sort), per-iteration
    means are rounded to ``decimals`` exactly like
    :func:`label_centroids`, and every assignment tie breaks on the
    smaller label — reruns are bit-identical. A cluster that captures no
    rows keeps its previous centroid (documented Lloyd's convention;
    re-seeding would trade determinism for marginal quality).

    ``init`` (list of k vectors) overrides seeding — warm restarts, or
    externally chosen seeds. ``allow_fewer=True`` clamps ``k`` down to
    the distinct-vector count when the seed collect finds fewer than
    ``k`` (the auto-sizing callers' contract — duplicate-heavy corpora
    size the quantizer down instead of failing; note the returned
    centroid count can then be less than the requested ``k``); the
    default keeps the loud error so an explicitly chosen ``k`` is never
    silently coarsened. Returns (label int, centroid array<double>),
    directly pluggable as the ``centroids=`` argument downstream.
    """
    spark = corpus.sparkSession
    if k < 1:
        raise ValueError(f"kmeans_fit: k must be >= 1, got {k}")
    train = corpus.select(F.col(vec_col).alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    if sample_fraction is not None:
        if not (0.0 < sample_fraction <= 1.0):
            raise ValueError(
                f"kmeans_fit: sample_fraction must be in (0, 1], got "
                f"{sample_fraction}"
            )
        train = train.filter(
            F.pmod(F.xxhash64("_v"), F.lit(1_000_000))
            < int(sample_fraction * 1_000_000)
        )
    with scoped_cache() as cache:
        train = cache(train)
        if init is not None:
            if len(init) != k:
                raise ValueError(
                    f"kmeans_fit: init has {len(init)} vectors, need k={k}"
                )
            bad = [
                i
                for i, v in enumerate(init)
                if v is None
                or not len(v)
                or any(
                    x is None or not math.isfinite(x) for x in v
                )
            ]
            if bad:
                # loud and named, not a TypeError deep in the float cast
                # (review r6; pass 8 extended to interior NULL/non-finite
                # components — a seed like [1.0, None] passed the
                # wholly-NULL check and still died as a bare TypeError,
                # and an inf/NaN seed would poison every later centroid):
                # a bad seed usually means the caller collected seeds
                # without filtering malformed vectors
                raise ValueError(
                    f"kmeans_fit: init vectors at positions {bad} are "
                    f"NULL/empty or hold NULL/non-finite components — "
                    f"filter malformed vectors before seeding"
                )
            # ragged seeds are as loud as malformed ones (review r6
            # pass 9): a short seed in position 0 mis-inferred dims and
            # blamed the healthy CORPUS, while one in a later position
            # silently produced a ragged centroid set whose short
            # centroid can never win an assignment — dead capacity
            # handed to every downstream consumer
            lens = sorted({len(v) for v in init})
            want = dims if dims is not None else lens[0]
            if lens != [want]:
                raise ValueError(
                    f"kmeans_fit: init vectors have lengths {lens}, "
                    f"expected all {want} — seeds must match the corpus "
                    f"dims"
                )
            cents = [[float(x) for x in v] for v in init]
        else:
            # k distinct seeds by hash order: distinct() first (duplicate
            # vectors share one hash, so any constant candidate margin
            # over the raw rows can collapse to < k distinct), then
            # TakeOrderedAndProject — the distinct is one shuffle of the
            # (sampled) train set, which sample_fraction bounds at scale
            cand = (
                train.distinct().orderBy(F.xxhash64("_v")).limit(k).collect()
            )
            if len(cand) < k:
                # allow_fewer: size k down to the available distinct
                # seeds instead of failing — the AUTO-sizing callers'
                # contract (curate_corpus's ~sqrt(n) default must not
                # crash on duplicate-heavy corpora, review r5). The
                # clamp rides the seed collect the fit already does, so
                # no extra distinct pass anywhere. An EXPLICIT k keeps
                # the loud error: silently coarsening a user-chosen
                # quantizer would hide a misconfiguration.
                if not allow_fewer or not cand:
                    raise ValueError(
                        f"kmeans_fit: corpus holds only {len(cand)} "
                        f"distinct vectors, need k={k}; lower k or raise "
                        f"sample_fraction"
                    )
                k = len(cand)
            cents = [[float(x) for x in r[0]] for r in cand]
        if dims is None:
            dims = len(cents[0])
        if dims == 0:
            # a zero-length seed would otherwise die deep in the update
            # step (empty agg list / max() over an empty zip) — fail
            # with the named error instead (review r5)
            raise ValueError(
                "kmeans_fit: corpus contains zero-length vectors — "
                "filter empty embeddings before fitting"
            )
        # fail loud on ragged vectors: element_at past a short array is
        # NULL, which would silently average over a subset (or surface as
        # a driver TypeError on the shift check after a wasted iteration)
        bad = train.filter(F.size("_v") != dims).limit(1).collect()
        if bad:
            raise ValueError(
                f"kmeans_fit: corpus contains a vector of "
                f"{len(bad[0][0])} dims, expected {dims}"
            )

        schema = "label int, centroid array<double>"
        for _ in range(max_iter):
            cdf = spark.createDataFrame(list(enumerate(cents)), schema)
            new_rows = (
                _assign_clusters(train, cdf, "_v", 1)
                .groupBy("cluster")
                .agg(
                    # round_fixed like label_centroids (review r7): a
                    # .5-boundary hit in a decimal-rounded mean would
                    # compound through every later unrolled oracle
                    # iteration
                    *[
                        round_fixed(
                            F.avg(F.element_at("_v", i).cast("double")),
                            decimals,
                        ).alias(f"_m{i}")
                        for i in range(1, dims + 1)
                    ]
                )
                .collect()
            )
            got = {
                r["cluster"]: [r[f"_m{i}"] for i in range(1, dims + 1)]
                for r in new_rows
            }
            shift = 0.0
            nxt = []
            for label, old in enumerate(cents):
                new = got.get(label, old)  # empty cluster: stays put
                shift = max(
                    shift, max(abs(a - b) for a, b in zip(old, new))
                )
                nxt.append(new)
            cents = nxt
            if shift <= tol:
                break
    return spark.createDataFrame(list(enumerate(cents)), schema)


# nlist at or above which _assign_clusters auto-switches to the Arrow
# matmul path: the fold's per-centroid HOF lambdas are interpreted (no
# whole-stage codegen), measured ~30 MFLOPS — fine at nlist<=10 bench
# scale, a 383 s cliff for 200k rows x nlist=1000 where BLAS does the
# same assignment in seconds. Below the threshold the fold keeps the
# plan Python-free.
_ARROW_NLIST_MIN = 128


def _round6_floor(a):
    """Vectorized replay of :func:`round_fixed` (decimals=6) for the
    Arrow fast paths — the SAME IEEE ops (multiply, add 0.5, floor,
    divide) numpy-side, so it is bit-identical to the Spark expression
    and the DuckDB oracle fragment by construction, with no JDK
    Double.toString dependency (review r7, ADVICE r6 — the previous
    BigDecimal-replay emulation leaned on the JVM's shortest-repr
    behavior). np.floor keeps NaN/inf as NaN/inf (unlike Spark's
    long-cast FLOOR), so non-finite garbage stays visibly non-finite
    for the callers' bad-row detection; in-contract inputs are bounded
    by ``VEC_ABS_MAX`` well inside the exact range."""
    import numpy as np

    return np.floor(a * 1e6 + 0.5) / 1e6


def _vector_batch(vals, dims: int, exact_len: bool):
    """The ONE copy of the Arrow paths' malformed-row scan (review r6
    pass 11 — it had been pasted in both): returns (V, bad) where V is
    the (n, dims) float64 matrix of the usable rows' leading ``dims``
    components and ``bad`` marks NULL / wrong-length / non-finite rows
    (Arrow surfaces interior NULL elements as NaN, so ``isfinite``
    covers that class too). ``exact_len`` replays the fold being
    fenced: cluster assignment NULL-dots any length mismatch against
    the centroid, while PQ encode slices and accepts over-length."""
    import numpy as np

    n = len(vals)
    V = np.zeros((n, dims), dtype=np.float64)
    bad = np.zeros(n, dtype=bool)
    for i, v in enumerate(vals):
        if v is None or (len(v) != dims if exact_len else len(v) < dims):
            bad[i] = True
            continue
        a = np.asarray(v[:dims], dtype=np.float64)
        # abs(x) <= bound is False for NaN (interior NULLs surface as
        # NaN through Arrow) and both infinities, so this one compare
        # is the full finite-and-bounded well-formedness check
        if not (np.abs(a) <= VEC_ABS_MAX).all():
            bad[i] = True
            continue
        V[i] = a
    return V, bad


def _assign_clusters(
    df: DataFrame,
    cents: DataFrame,
    vec: str,
    n_best: int,
    impl: str | None = None,
) -> DataFrame:
    """Attach the ``n_best`` nearest centroids (cosine, ties broken on the
    smaller label) to every row as ``cluster`` (one output row per
    (input row, probed centroid)).

    The comparison key is ``floor(cos*1e6 + 0.5)`` in explicit double
    arithmetic (review r6 passes 10/12, the ``quantize_int8``
    discipline): a raw float key is only cross-engine stable while both
    engines happen to sum in the same order, and decimal F.round
    diverges from DuckDB's binary ROUND on exact .5 boundary doubles —
    floor over the same IEEE ops is bit-identical across Spark, DuckDB
    and numpy. Quantizing the key makes the assignment order
    summation-independent; ties (now possible at the 1e-6 grid) break
    on the smaller label, deterministically.

    Two implementations, selected by ``impl`` (``None`` = auto by
    nlist, the ``_ARROW_NLIST_MIN`` threshold; forced values for tests):

    * ``"fold"`` — one shuffle-free JVM shape for both the
      corpus-indexing path (n_best=1) and the query-probe path
      (n_best=nprobe): the ~nlist centroids are broadcast as ONE row
      holding a sorted array of (label, vector, norm) structs; per
      input row the similarity array is computed once, sorted by
      (sim desc, label asc) via an ascending struct sort on
      (-sim, label), and the first ``n_best`` entries explode out. The
      r1 formulation ranked broadcast centroids with a ``row_number``
      window, which shuffled the ENTIRE corpus by vector id just to
      take an argmax over 10 values (VERDICT r1 item 4). Zero Python
      in the plan, but the per-centroid lambdas are interpreted —
      O(nlist x dims) per row at ~30 MFLOPS.
    * ``"arrow"`` — ``mapInPandas`` with the centroid matrix in the
      closure: per batch, cosines are one float64 matmul
      (rows x dims @ dims x nlist), rounded with the same
      half-away-from-zero rule as ``F.round``/DuckDB ``ROUND``, then a
      stable argsort over (key, label). Same zero-shuffle shape (the
      corpus still never exchanges); the Python hop is Arrow-batched
      and BLAS-bound. Malformed rows (NULL / ragged / interior-NULL /
      non-finite / zero-norm) reproduce the fold's sentinel outcome:
      every centroid keys to the same no-signal value, so the row
      assigns to the ``n_best`` smallest labels.

    Plan-shape notes for the fold (measured):

    * Per-centroid work must live inside higher-order-function lambdas
      (lambda variables are bound values at runtime). The chained
      column form — ``best = when(sim > best.s, ...).otherwise(best)``
      per centroid — references ``best`` twice per step, and Catalyst
      inlines (never CSEs) those references: 2^nlist expression nodes,
      48 s instead of 2 s at sf0.1 with nlist=10.
    * The centroid values ride in the broadcast row, NOT as plan
      literals. An earlier variant embedded 10x64 literals in one
      generated SQL string; correct, but expensive at every stage of
      its life — ~0.5 s to parse per plan build and an oversized
      codegen method to JIT per executor — for zero runtime advantage,
      and a dead end at production nlist."""
    if impl not in (None, "fold", "arrow"):
        raise ValueError(
            f"_assign_clusters: impl must be None, 'fold' or 'arrow', "
            f"got {impl!r}"
        )
    # The quantizer is collected ONCE (nlist rows — small by definition;
    # even nlist=1e5 x 64 dims is ~50 MB, and the fold broadcast
    # materializes the same data anyway): the collected rows give the
    # emptiness check and the impl switch for free, and the fold path
    # rebuilds its broadcast row from the LOCAL frame — so the centroid
    # plan executes once per call instead of twice (the r6 pass-10 probe
    # jobs cost a visible ~0.5 s per call at bench scale).
    cent_rows = cents.select("label", "centroid").collect()
    # fail loud on an empty quantizer: explode over the empty probes array
    # would silently emit ZERO rows (build_ivf_index / build_ivfpq_index
    # accept caller-supplied centroids and would write an empty index)
    if not cent_rows:
        raise ValueError(
            "_assign_clusters: empty centroid set — a quantizer with no "
            "centroids would silently drop every input row"
        )
    # validate the quantizer LOUD, for BOTH impls (review r6 pass 11):
    # a NULL/ragged/interior-NULL/non-finite centroid is a caller bug
    # (stale artifact, unfiltered training data) — the fold would bury
    # it as engine-specific sentinel/NaN orderings and the Arrow argmin
    # would invert them, so neither outcome is worth preserving. A
    # kmeans_fit/label_centroids artifact over well-formed vectors is
    # always clean; zero-NORM centroids are valid (empty-text means)
    # and key as no-signal per cell.
    import numpy as np

    if any(r[0] is None for r in cent_rows):
        raise ValueError("_assign_clusters: quantizer holds a NULL label")
    rows_sorted = sorted(cent_rows, key=lambda r: r[0])
    try:
        C = np.asarray(
            [r["centroid"] for r in rows_sorted], dtype=np.float64
        )
        # abs <= bound is False for NaN/inf too — the same
        # finite-and-bounded check as the row side (review r7): an
        # out-of-bound centroid overflows the norm product, so every
        # cosine against it degenerates to 0 — a finite garbage key
        # that can spuriously capture rows, not even a visible NaN
        clean = C.ndim == 2 and bool((np.abs(C) <= VEC_ABS_MAX).all())
    except (TypeError, ValueError):
        clean = False
    if not clean:
        raise ValueError(
            "_assign_clusters: the quantizer holds a NULL, ragged, "
            "non-finite or out-of-magnitude-bound centroid — retrain it "
            "over well-formed vectors (kmeans_fit / label_centroids "
            "always produce a clean one)"
        )
    if impl is None:
        impl = "arrow" if len(cent_rows) >= _ARROW_NLIST_MIN else "fold"
    if impl == "arrow":
        label_type = cents.select("label").schema[0].dataType
        return _assign_clusters_arrow(
            df, [r[0] for r in rows_sorted], C, vec, n_best, label_type
        )
    local = df.sparkSession.createDataFrame(
        cent_rows, cents.select("label", "centroid").schema
    )
    one = local.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("label").alias("l"),
                    F.transform(
                        "centroid", lambda x: x.cast("double")
                    ).alias("c"),
                    l2_norm("centroid").alias("n"),
                )
            )
        ).alias("_cents")
    )
    def _ns(ct):
        # key = floor(cos*1e6 + 0.5) in explicit double arithmetic
        # (review r6 pass 12, the quantize_int8 discipline): F.round
        # walks BigDecimal on the decimal repr while DuckDB ROUND
        # rounds the binary-scaled value, so they disagree on exact .5
        # boundary doubles (0.5222235 -> 0.522224 vs 0.522223); floor
        # of the same IEEE ops is bit-identical across Spark, DuckDB
        # and numpy. The guards map garbage to the no-signal sentinel
        # like zero-norm: __vok is the row-level magnitude-bound check
        # (review r7 — an out-of-bound row can overflow the denom to
        # inf and degenerate cos to a FINITE 0, which abs(cos) <= 1.5
        # alone would accept; the Arrow path's _vector_batch marks the
        # same rows bad), and the abs(cos) guard keeps catching NaN/inf
        # cosines — NaN <= 1.5 is false, so the when yields NULL.
        #
        # ``ct`` here is the (d, n, l) struct from the dot pass below,
        # so every reference to the dot product is a bound-variable
        # lookup. Referencing the FOLD twice (the r12 form: once under
        # abs(), once as the kept value) doubled the O(nlist x dims)
        # assignment FLOPs — Catalyst inlines, never CSEs, lambda-body
        # expressions (optimization r13, guide §1.2 step 2; the same
        # trap as cosine_from_norms' docstring). The arithmetic below
        # is the identical IEEE op sequence on the same dot value, so
        # keys are bit-for-bit unchanged.
        denom = F.col("__vnorm") * ct["n"]
        cos = F.when(denom > 0, ct["d"] / denom)
        safe = F.when(F.col("__vok") & (F.abs(cos) <= F.lit(1.5)), cos)
        q = F.floor(safe * F.lit(1e6) + F.lit(0.5)).cast("double")
        return -F.coalesce(q, F.lit(-2.0e6))

    def _dot_fold(ct):
        return F.aggregate(
            F.zip_with(F.col("__vd"), ct["c"], lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # two-level transform: pass 1 materializes each centroid's dot
    # product ONCE as a struct field; pass 2 builds the sort key from
    # that bound value (see _ns comment — halves assignment FLOPs)
    dots = F.transform(
        F.col("_cents"),
        lambda ct: F.struct(
            _dot_fold(ct).alias("d"),
            ct["n"].alias("n"),
            ct["l"].alias("l"),
        ),
    )
    sims = F.transform(
        dots,
        lambda ct: F.struct(_ns(ct).alias("ns"), ct["l"].alias("l")),
    )
    probes = F.slice(F.array_sort(sims), 1, n_best)
    return (
        df.crossJoin(broadcast(one))
        .withColumn("__vd", F.transform(vec, lambda x: x.cast("double")))
        .withColumn("__vnorm", l2_norm(vec))
        # row-level finite-and-bounded check, the fold twin of the
        # Arrow path's _vector_batch bad-marking (review r7); length
        # mismatches still sentinel via the NULL-padded zip_with dot
        .withColumn(
            "__vok",
            ~F.exists(
                F.col("__vd"),
                lambda x: x.isNull() | ~(F.abs(x) <= F.lit(VEC_ABS_MAX)),
            ),
        )
        .withColumn("_probe", F.explode(probes))
        .withColumn("cluster", F.col("_probe")["l"])
        .drop("_cents", "__vd", "__vnorm", "__vok", "_probe")
    )


def _assign_clusters_arrow(
    df: DataFrame,
    labels_sorted: list,
    C,
    vec: str,
    n_best: int,
    label_type,
) -> DataFrame:
    """The large-nlist implementation behind :func:`_assign_clusters`
    (see there for the contract; ``labels_sorted``/``C`` are its
    already-collected-and-validated label list and (k, d) float64
    centroid matrix): vectorized numpy per Arrow batch. Dots and norms
    accumulate per-DIM over row-blocked (block x k) planes — the EXACT
    left-to-right order of the fold's zip_with/aggregate, so every
    cosine is bit-identical to the fold's before the key is even taken
    (review r6 pass 12: a matmul's pairwise summation could land on
    the other side of a quantization boundary). The key itself is
    ``floor(cos*1e6 + 0.5)`` — the same IEEE ops as the fold and the
    DuckDB oracles, see the fold's ``_ns``. The per-CELL no-signal
    sentinel (a zero-norm centroid against a valid row, or a NaN/inf
    cosine) keys +2e6 exactly like the fold's ``-coalesce(...,-2e6)``
    — sorts WORST, never captures a row (review r6 pass 11: the first
    cut negated it, handing every row to a degenerate centroid).
    ``cluster`` keeps the source label column's type and values — no
    int64 coercion, string labels work (review r6 pass 12)."""
    import numpy as np
    from pyspark.sql.types import StructField, StructType

    labels = np.asarray(labels_sorted, dtype=object)
    k = C.shape[0]
    d = C.shape[1]
    cn = np.zeros(k, dtype=np.float64)
    for i in range(d):  # l2_norm's fold order
        cn += C[:, i] * C[:, i]
    cnorm = np.sqrt(cn)  # (k,)
    out_schema = StructType(
        list(df.schema.fields) + [StructField("cluster", label_type, True)]
    )
    # C rides in the task closure (k x d doubles — 512 KB at nlist=1000;
    # serialized once per executor). At an extreme nlist where that
    # bloats, hand the matrix to a SparkContext.broadcast instead.

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V, bad = _vector_batch(
                pdf[vec].to_numpy(), d, exact_len=True
            )
            m = len(pdf)
            key = np.empty((m, k), dtype=np.float64)
            # 256-row blocks keep the (block x k) accumulators cache-
            # resident through the d per-dim passes
            for s in range(0, m, 256):
                VB = V[s : s + 256]
                b = VB.shape[0]
                dot = np.zeros((b, k), dtype=np.float64)
                vn = np.zeros(b, dtype=np.float64)
                for i in range(d):
                    dot += VB[:, i : i + 1] * C[None, :, i]
                    vn += VB[:, i] * VB[:, i]
                denom = np.sqrt(vn)[:, None] * cnorm[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot / denom
                    q = np.floor(cos * 1e6 + 0.5)
                    key[s : s + 256] = np.where(
                        (denom > 0) & (np.abs(cos) <= 1.5), -q, 2.0e6
                    )
            key[bad] = 2.0e6  # malformed row: every centroid no-signal
            nb = min(n_best, len(labels))
            if nb == 1:
                # argmin returns the FIRST minimum — smaller label wins
                # ties, same as the fold's (ns, label) struct sort
                picked = np.argmin(key, axis=1)[:, None]
            else:
                picked = np.argsort(key, axis=1, kind="stable")[:, :nb]
            rep = np.repeat(np.arange(m), picked.shape[1])
            out = pdf.iloc[rep].reset_index(drop=True)
            out["cluster"] = labels[picked.ravel()]
            yield out

    return df.mapInPandas(assign, schema=out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the production ANN shape.

    Train: a coarse quantizer — here the per-label mean vectors (any
    deterministic partitioner works; with k-means the flow is identical,
    labels just become learned assignments). Index: every corpus vector
    joins its single nearest centroid's posting list — at 100 TB this is a
    one-time ``partitionBy(cluster)`` write, so each posting list is a
    contiguous parquet subtree. Search: each query probes its ``nprobe``
    nearest centroids and scans only those posting lists: cost
    nprobe/nlist of the corpus per query instead of a full scan.

    The in-memory twin of ``build_ivf_index`` + ``probe_ivf_index``: the
    same assign, encode and score stages, minus the parquet hop.
    Deterministic end-to-end (centroid components rounded; every tie broken
    on an id), hence DuckDB-oracle-checkable — unusual for ANN and the
    reason this variant anchors the correctness suite while
    ``lsh_bucketed_topk`` covers the hyperplane-hash family."""
    cents = centroids if centroids is not None else label_centroids(
        corpus, label_col, vec_col
    )
    return _score(
        _index_rows(corpus, cents, _FLAT, id_col, vec_col),
        _query_probes(queries, cents, _FLAT, nprobe, id_col, vec_col),
        _FLAT,
        k,
    )


def _materialize_artifact(df: DataFrame) -> DataFrame:
    """Collect a trained artifact (centroids / codebook — broadcast-sized
    by definition) and rebuild it as a local-rows frame. Every index op
    takes its artifacts through this once at entry, so the op broadcasts
    DATA, not a lineage: a lazy artifact re-executes its entire training
    (a full corpus pass for a codebook) inside EVERY action — measured as
    a 986-task stage per probe at 100× (nlist=1000, 200k vectors), 9.7 s
    vs 7.2 s per probe."""
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


# ---------------------------------------------------------------------------
# The on-disk IVF index: one protocol for the flat and the IVF-PQ codec.
# Every posting list is a ``cluster=<label>`` hive partition. Build, append
# and probe run the same stages — assign, encode, write or pruned read,
# score — behind one contract check; the codec decides only what a posting
# row stores and how a probe scores it.
# ---------------------------------------------------------------------------


class _Codec(NamedTuple):
    """What an index stores per posting row. Flat (``pq=False``): the
    vector ``c_vec`` and its norm ``c_norm``, scored by exact cosine. PQ:
    ``pq_codes`` of the raw vector — or, with ``residual``, of its
    residual against the row's coarse centroid — scored by ADC over
    ``codebook``; ``(dims, m, residual)`` is the encode contract the
    index's ``IVFPQ_META_SIDECAR`` persists."""

    pq: bool = False
    dims: int = 0
    m: int = 0
    residual: bool = False
    codebook: DataFrame | None = None

    def materialized(self) -> _Codec:
        if self.codebook is None:
            return self
        return self._replace(codebook=_materialize_artifact(self.codebook))


_FLAT = _Codec()


def _index_contract(
    spark, index_path: str, codec: _Codec, op: str, existing: bool = True
) -> None:
    """The ONE contract check of the on-disk index, run by every index op
    (build, append and probe; flat and PQ) before it reads or writes.

    A PQ codec's subspace split must be exact (``m`` divides ``dims``).
    An op on an ``existing`` index — every append and probe; a build
    overwrites ``index_path`` — then needs committed data (appending into
    a void would create an index that silently lacks the rest of the
    corpus), and the index's stored contract must match the codec. The
    PQ encode contract lives in ``IVFPQ_META_SIDECAR``; a flat index has
    no sidecar, so flat indexes of every age stay usable.

    * A flat op on an index carrying the sidecar is refused: an append
      would write rows whose ``pq_codes`` read back NULL — invisible to
      every PQ probe, and shadowing a later correct append of the same
      ids from ``skip_existing`` — and a probe would look for vectors
      the index does not store.
    * A PQ op needs the sidecar, and its flags must match it. Missing is
      loud (review r8): silently trusting the caller's flags is exactly
      the garbage-distance footgun the sidecar closes, and a build that
      crashed between its data write and its stamp would otherwise
      degrade to that forever. Recovery is one explicit
      :func:`stamp_ivfpq_meta` call (or a rebuild)."""
    from s3_access_logs_spark.sources.fsutil import (
        has_data_files,
        read_json_sidecar,
    )

    if codec.pq and (codec.m < 1 or codec.dims % codec.m):
        raise ValueError(f"{op}: dims={codec.dims} not divisible by m={codec.m}")
    if not existing:
        return
    builder = "build_ivfpq_index" if codec.pq else "build_ivf_index"
    if not has_data_files(spark, index_path):
        raise ValueError(
            f"{op}: no committed index at {index_path!r} — run {builder} "
            "first"
        )
    meta = read_json_sidecar(spark, index_path, IVFPQ_META_SIDECAR)
    if not codec.pq:
        if meta is not None:
            raise ValueError(
                f"{op}: {index_path!r} is an IVF-PQ index (its "
                f"{IVFPQ_META_SIDECAR} holds {meta}) — a flat op would "
                "append rows without codes or probe for vectors the index "
                "does not store; use the *_ivfpq_index ops"
            )
        return
    if meta is None:
        raise ValueError(
            f"{op}: no {IVFPQ_META_SIDECAR} sidecar at {index_path!r} — "
            "the index predates the sidecar scheme or its build crashed "
            "before the stamp. Probing with unvalidated flags risks "
            "garbage distances; if the build-time residual/dims/m are "
            "known, stamp them once with stamp_ivfpq_meta(), else "
            "rebuild with build_ivfpq_index()"
        )
    expected = _ivfpq_meta(codec.dims, codec.m, codec.residual)
    if meta != expected:
        raise ValueError(
            f"{op}: flags {expected} do not match the index's persisted "
            f"encode contract {meta} at {index_path!r} — a mismatched "
            "residual/dims/m would score stored codes with the wrong "
            "LUT and return garbage distances; pass the build-time "
            "flags or rebuild the index"
        )


def _residual(
    df: DataFrame, cents: DataFrame, vec: str, dims: int, out: str | None = None
) -> DataFrame:
    """``df`` (keyed by ``cluster``) with ``out`` (default: ``vec`` in
    place) set to ``vec - centroid(cluster)``, the IVF-PQ residual
    construction. The nlist-row centroid table is broadcast, so ``df``
    never shuffles."""
    cent_vecs = cents.select(
        F.col("label").alias("cluster"), F.col("centroid").alias("_cent")
    )
    return (
        df.join(broadcast(cent_vecs), "cluster")
        .withColumn(out or vec, _residual_col(vec, "_cent", dims))
        .drop("_cent")
    )


def _assign(
    vectors: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(neighbor_id, c_vec, cluster): every vector under its nearest
    centroid — the zero-exchange broadcast argmin of ``_assign_clusters``."""
    return _assign_clusters(
        vectors.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        cents,
        "c_vec",
        1,
    )


def _index_rows(
    vectors: DataFrame,
    cents: DataFrame,
    codec: _Codec,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign + encode: one posting row per input vector, keyed by
    ``neighbor_id`` and ``cluster``, carrying the codec's columns."""
    rows = _assign(vectors, cents, id_col, vec_col)
    if not codec.pq:
        return rows.select(
            "neighbor_id", "c_vec", l2_norm("c_vec").alias("c_norm"), "cluster"
        )
    enc = "c_vec"
    if codec.residual:
        rows, enc = _residual(rows, cents, "c_vec", codec.dims, "r_vec"), "r_vec"
    # the encode impl is probed on the RAW input, not the assignment
    # lineage (review r6 pass 11): pq_encode's impl=None limit-count
    # would re-run the whole assignment for its first 50k rows just to
    # pick a branch; counting the source scan costs a footer read
    return pq_encode(
        rows,
        codec.codebook,
        vec_col=enc,
        dims=codec.dims,
        m=codec.m,
        impl=_bulk_encode_impl(vectors),
    ).select("neighbor_id", "pq_codes", "cluster")


def _train_codebook(
    corpus: DataFrame,
    cents: DataFrame,
    codec: _Codec,
    id_col: str,
    vec_col: str,
    refine_iters: int,
) -> DataFrame:
    """A codebook for ``codec``, trained on what :func:`_index_rows`
    encodes: the residuals under ``cents``, or the raw vectors."""
    if codec.residual:
        corpus, vec_col = _residual(
            _assign(corpus, cents, id_col, vec_col), cents, "c_vec",
            codec.dims, "r_vec",
        ), "r_vec"
    return train_pq_codebook(
        corpus, vec_col, dims=codec.dims, m=codec.m, refine_iters=refine_iters
    )


def _query_probes(
    queries: DataFrame,
    cents: DataFrame,
    codec: _Codec,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """One row per (query, probed cell): each query's ``nprobe`` nearest
    centroids as ``cluster``, with ``q_vec`` in the codec's space. Flat
    carries ``q_norm``. PQ drops malformed queries (the ``pq_topk``
    contract) and, for a residual index, replaces ``q_vec`` by its
    residual against each probed cell's centroid, so the per-cluster LUT
    is the residual LUT: ``||q - v||^2 == ||(q - c) - (v - c)||^2``, and
    adist stays comparable across probed cells."""
    if not codec.pq:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            l2_norm(vec_col).alias("q_norm"),
        )
        return _assign_clusters(q, cents, "q_vec", nprobe)
    q = queries.filter(well_formed_vector(vec_col, codec.dims)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    probes = _assign_clusters(q, cents, "q_vec", nprobe)
    if codec.residual:
        return _residual(probes, cents, "q_vec", codec.dims)
    return probes


def _cosine_topk(
    posting: DataFrame, probes: DataFrame, k: int, key: str = "cluster"
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim): each query's top ``k`` cosine
    neighbors among the ``posting`` rows sharing one of its ``key``
    values; ``probes`` is the small side and is broadcast."""
    scored = (
        posting.join(broadcast(probes), key)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim", cosine_from_norms("q_vec", "c_vec", "q_norm", "c_norm")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim")
        )
    )


def _score(
    posting: DataFrame, probes: DataFrame, codec: _Codec, depth: int
) -> DataFrame:
    """Each query's top ``depth`` (query_id, neighbor_id, rank, score)
    over the posting rows of its probed cells: flat by cosine ``sim``
    descending, PQ by ADC ``adist`` ascending (``_adc_rank``, the stage
    ``pq_topk`` shares; adist is already 6dp, rounded where it became
    the ranking key)."""
    if not codec.pq:
        return _cosine_topk(posting, probes, depth)
    ranked = _adc_rank(
        posting,
        probes.select("query_id", "q_vec", "cluster"),
        codec.codebook,
        codec.dims,
        codec.m,
        join_key="cluster",
    )
    return ranked.filter(F.col("rank") <= depth).select(
        "query_id", "neighbor_id", "rank", "adist"
    )


def _pruned_read(spark, index_path: str, probes: DataFrame) -> DataFrame:
    """The posting lists of the cells ``probes`` touch, and no others:
    the distinct ``cluster`` values become a plan-time literal ``isin``,
    so partition pruning keeps every other list out of the scan (pinned
    by ``TestIvfIndex.test_probe_matches_inline_ivf_and_prunes_partitions``)."""
    touched = sorted(
        r["cluster"] for r in probes.select("cluster").distinct().collect()
    )
    return spark.read.parquet(index_path).filter(F.col("cluster").isin(touched))


def _write_posting(rows: DataFrame, path: str, mode: str) -> None:
    """Write posting rows into their ``cluster=<label>`` partitions: one
    shuffle on ``cluster``, so each list is a contiguous subtree."""
    (
        rows.repartition("cluster")
        .write.mode(mode)
        .partitionBy("cluster")
        .parquet(path)
    )


def _append(
    spark,
    new_vectors: DataFrame,
    index_path: str,
    cents: DataFrame,
    codec: _Codec,
    id_col: str,
    vec_col: str,
    skip_existing: bool,
    op: str,
) -> dict[str, int]:
    """The one append: assign + encode the new vectors under the SAVED
    artifacts and add them to their posting lists in ONE write job whose
    observation returns the stats. ``skip_existing`` anti-joins against
    the ids already in the touched lists (the pruned read). The write
    runs even when nothing is fresh: it then commits no files, the same
    on-disk no-op a skipped write would be."""
    _index_contract(spark, index_path, codec, op)
    cents, codec = _materialize_artifact(cents), codec.materialized()
    if new_vectors.isEmpty():
        return {"appended": 0, "skipped_existing": 0}
    rows = _index_rows(new_vectors, cents, codec, id_col, vec_col)
    if skip_existing:
        seen = _pruned_read(spark, index_path, rows).select(
            "neighbor_id", F.lit(True).alias("_seen")
        )
        marked = rows.join(seen, "neighbor_id", "left")
    else:
        marked = rows.withColumn("_seen", F.lit(None).cast("boolean"))
    marked, stats = observe(
        marked,
        F.count(F.when(F.col("_seen").isNull(), 1)).alias("appended"),
        F.count(F.when(F.col("_seen"), 1)).alias("skipped_existing"),
    )
    _write_posting(
        marked.filter(F.col("_seen").isNull()).drop("_seen"),
        index_path,
        "append",
    )
    return stats()


def _probe(
    spark,
    index_path: str,
    queries: DataFrame,
    cents: DataFrame,
    codec: _Codec,
    depth: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    op: str,
) -> DataFrame:
    """The one probe: rank each query's ``nprobe`` nearest centroids,
    read ONLY those posting lists, score them (see :func:`_score`)."""
    _index_contract(spark, index_path, codec, op)
    cents, codec = _materialize_artifact(cents), codec.materialized()
    probes = _query_probes(queries, cents, codec, nprobe, id_col, vec_col)
    return _score(
        _pruned_read(spark, index_path, probes), probes, codec, depth
    )


def build_ivf_index(
    corpus: DataFrame,
    dst: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Materialize the IVF index on disk: every corpus vector written into
    its nearest centroid's posting list as a ``cluster=<label>`` hive
    partition, norms precomputed. This is the 100 TB shape ``ivf_topk``
    documents: indexing is a one-time narrow scan (zero-exchange assignment,
    see ``_assign_clusters``) + one shuffle on ``cluster`` for the
    partitioned write; each posting list becomes a contiguous parquet
    subtree. Returns the centroids as a MATERIALIZED local-rows frame
    (persist them next to the index — a probe needs only these, never
    the corpus)."""
    _index_contract(
        corpus.sparkSession, dst, _FLAT, "build_ivf_index", existing=False
    )
    cents = _materialize_artifact(
        centroids if centroids is not None else label_centroids(
            corpus, label_col, vec_col
        )
    )
    _write_posting(
        _index_rows(corpus, cents, _FLAT, id_col, vec_col), dst, "overwrite"
    )
    return cents


def probe_ivf_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a materialized IVF index: rank the query's ``nprobe`` nearest
    centroids, then scan ONLY those posting-list partitions — the
    ``cluster IN (...)`` filter is a plan-time literal, so partition
    pruning keeps nprobe/nlist of the index files out of the scan
    entirely. Output contract matches ``ivf_topk``."""
    return _probe(
        spark, index_path, queries, centroids, _FLAT, k, nprobe, id_col,
        vec_col, "probe_ivf_index",
    )


def append_to_ivf_index(
    spark,
    new_vectors: DataFrame,
    index_path: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skip_existing: bool = True,
) -> dict[str, int]:
    """Incrementally grow a materialized IVF index without rebuilding it —
    the index-maintenance twin of ``compact_ingest_store``.

    A production corpus is append-mostly: re-running ``build_ivf_index``
    on every new crawl slice re-shuffles the ENTIRE indexed corpus (100 TB
    of posting lists) to add a sliver of new vectors. This op instead
    assigns only the new vectors to the SAVED centroids (the same
    zero-exchange broadcast-argmin as the build — retraining here would
    silently orphan every existing posting list, so the quantizer is a
    required argument, never recomputed) and appends them into their
    ``cluster=<label>`` partitions. Cost: one narrow pass over the new
    slice + one shuffle of the new slice alone.

    ``skip_existing`` anti-joins the candidates against the ids already
    present in the TOUCHED posting lists only (partition-pruned read,
    never a full index scan). Because an already-present id appends
    nothing, a replayed append of the same slice is a no-op — at-least-
    once callers (foreachBatch, retried cron jobs) get idempotency from
    the ids themselves, no marker file needed.

    Repeated appends accumulate one file-set per call per partition;
    fold them with ``operators.etl.compact_partitions(index_path)``,
    which preserves the hive layout probes prune on (pinned by
    ``TestIvfAppend.test_compaction_keeps_probe_results``).

    Drift caveat (documented, not policed): the saved quantizer was
    trained on the corpus as of build time. If the appended mass shifts
    the distribution, posting lists skew — compare per-cluster counts in
    the returned stats and rebuild with ``kmeans_fit`` + ``build_ivf_
    index`` when the heaviest list outgrows the mean by your tolerance.
    Returns ``{"appended": n, "skipped_existing": m}``.
    """
    return _append(
        spark, new_vectors, index_path, centroids, _FLAT, id_col, vec_col,
        skip_existing, "append_to_ivf_index",
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
    out_dims: int = 16,
    seed: int = 42,
    result_col: str = "projection",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction as a pure column
    fold: project each vector onto ``out_dims`` deterministic random
    directions (the LCG plane family the LSH bucketer already uses),
    scaled by sqrt(3/out_dims) so uniform[-1,1) entries (variance 1/3)
    preserve expected squared norms — E[||proj||^2] = ||x||^2, and
    pairwise distances concentrate within (1 +/- eps) for
    out_dims ~ 8 ln(n) / eps^2 (JL lemma).

    Why it's here: halving dims halves every downstream ANN cost
    (centroid assignment folds, PQ subspaces, brute-force oracles) at a
    known, bounded distance distortion — the standard pre-reduction
    before clustering 100 TB of embeddings. The planes ride in ONE
    broadcast row as data (same reasoning as ``_assign_clusters``: plan
    literals would bloat parse + codegen at production dims); the
    projection itself is a zero-exchange narrow map."""
    if out_dims < 1 or dims < 1:
        raise ValueError(
            f"random_projection: need dims >= 1 and out_dims >= 1, got "
            f"({dims}, {out_dims})"
        )
    scale = (3.0 / out_dims) ** 0.5
    planes = _lcg_planes(out_dims, dims, seed)
    one = df.sparkSession.createDataFrame(
        [(planes,)], "_rp array<array<double>>"
    )
    # fail loud on a dims mismatch: zip_with pads the shorter side with
    # NULLs, which would silently poison every projection component
    dim_ok = F.assert_true(
        F.size(vec_col) == F.lit(dims),
        F.concat(
            F.lit(
                f"random_projection: dims={dims} but vector has "
            ),
            F.size(vec_col).cast("string"),
            F.lit(" components"),
        ),
    )
    proj = F.transform(
        F.col("_rp"),
        lambda p: F.aggregate(
            F.zip_with(
                F.col(vec_col), p, lambda x, w: x.cast("double") * w
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * F.lit(scale),
    )
    # the assertion rides INSIDE the projection expression (assert_true
    # yields NULL on success, throws on mismatch) — as a separate
    # dropped column Catalyst would prune it away unevaluated
    checked = F.when(dim_ok.isNull(), proj)
    return (
        df.crossJoin(broadcast(one))
        .withColumn(result_col, checked)
        .drop("_rp")
    )


def ivf_index_stats(spark, index_path: str) -> DataFrame:
    """Posting-list balance report for a materialized IVF / IVF-PQ
    index: ``(cluster, n, share, skew)`` where ``skew`` is the list's
    size over the mean list size. The drift monitor the append ops
    document: repeated appends under a stale quantizer show up here as
    a skew ratio climbing past your tolerance — the signal to retrain
    (``kmeans_fit``) and rebuild. One count aggregation over the
    cluster column; the vector/code payload is pruned from the scan."""
    counts = (
        spark.read.parquet(index_path)
        .groupBy("cluster")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy()
    return (
        counts.withColumn("share", F.col("n") / F.sum("n").over(w))
        .withColumn("skew", F.col("n") / F.avg("n").over(w))
        .orderBy(F.col("n").desc(), "cluster")
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dims: int = 64,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket. Same output
    contract as brute_force_topk (rank within probed buckets).

    ``multiprobe=1`` additionally probes every bucket at Hamming
    distance 1 from the query's signature (each single plane-bit flip —
    the Lv et al. multi-probe idea with the full distance-1 ring), so a
    query touches ``n_planes + 1`` of the ``2^n_planes`` buckets instead
    of 1. The fan-out lands entirely on the broadcast QUERY side (the
    corpus is bucketed once and never replicated), and the probed bucket
    ids are distinct by construction (XOR with distinct masks), so no
    pair dedup is needed. At 100 TB with the corpus pre-bucketed on
    disk this is the recall/IO dial: single-probe reads ~1/2^m of the
    data, distance-1 reads ~(m+1)/2^m."""
    if multiprobe not in (0, 1):
        raise ValueError(
            f"lsh_bucketed_topk: multiprobe must be 0 or 1, got {multiprobe!r}"
        )
    planes = _lcg_planes(n_planes, dims)
    # Pass the column NAME: the bucket expression is then one generated SQL
    # string instead of ~n_planes x dims literal Columns (py4j chatter —
    # see random_projection_bucket).
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        random_projection_bucket(vec_col, planes).alias("bucket"),
        l2_norm(vec_col).alias("c_norm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        random_projection_bucket(vec_col, planes).alias("bucket"),
        l2_norm(vec_col).alias("q_norm"),
    )
    if multiprobe:
        masks = [0] + [1 << i for i in range(n_planes)]
        q = q.select(
            "query_id",
            "q_vec",
            "q_norm",
            F.explode(
                F.array(
                    *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
                )
            ).alias("bucket"),
        )
    return _cosine_topk(c, q, k, key="bucket")


#: Per-cluster population bound for ``semantic_dedup``'s posting arrays
#: (optimization r14, guide §2.5 hot keys — the ``max_band_freq``
#: convention): clusters at or under the cap take the fast collect_list
#: path; BIGGER clusters are rerouted to the spillable sort-merge
#: self-join, because a ``collect_list`` array cannot spill and a skewed
#: cluster (boilerplate embeddings collapsing onto one centroid) would
#: OOM its task. 65,536 structs of a 64-dim double vector is ~40 MB —
#: comfortably task-sized — while typical IVF sizing (nlist ~ sqrt(N),
#: so ~sqrt(N) rows per cluster) stays far below it even at 10^9 rows.
#: UNLIKE ``max_band_freq`` this cap never drops rows or changes any
#: result: both paths evaluate the identical domination predicate.
DEFAULT_MAX_CLUSTER_SIZE = 65_536


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroids: DataFrame | None = None,
    max_cluster_size: int | None = DEFAULT_MAX_CLUSTER_SIZE,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    ``(id, cluster, keep)`` for every corpus vector.

    Shape (Abbas et al., SemDeDup): cluster the corpus with the coarse
    quantizer, then look for near-duplicates ONLY within a cluster —
    the quadratic pair search is confined to cluster-sized blocks, never
    the corpus. A vector is dropped when a lower-id vector in the same
    cluster has cosine similarity above ``threshold`` (the deterministic
    "keep the most canonical representative of each epsilon-ball" variant:
    kept = not dominated by any smaller id, which unlike greedy-sequential
    needs no iteration and is expressible in one SQL EXISTS — documented
    difference: a chain a~b, b~c, a!~c keeps {a, c} under greedy but only
    {a} here).

    Scale: cluster assignment is the zero-exchange literal-centroid argmax
    (``_assign_clusters``), executed ONCE — the within-cluster pair
    search runs over per-cluster posting arrays (one groupBy exchange,
    ``array_sort(collect_list(...))``), not a self-join: the earlier
    self-join form evaluated the whole assignment pipeline three times
    (both join sides plus the keep join-back) and shuffled the corpus
    twice. The domination predicate inside the array pass is the SAME
    expression the join used (``b.id < a.id`` and
    ``cosine_from_norms > threshold`` with identical IEEE op order), and
    the id-ascending sort makes the prefix slice a complete candidate
    set, so results are row-for-row unchanged — including NULL-id rows
    (the explicit ``<`` keeps NULL ids from ever dominating, exactly the
    join's three-valued behavior). With nlist ~ sqrt(N) (the standard
    IVF sizing) cluster populations stay bounded, so no pair block is
    quadratic in the corpus and no posting array outgrows a task (the
    self-join buffered the same per-key block inside SMJ/hash relations).
    For a recurring 100 TB job, materialize the assignment first
    (``build_ivf_index`` writes exactly that) and run the pair search
    over the stored posting lists instead.

    ``max_cluster_size`` (optimization r14, guide §2.5 — the hot-key
    split): ``collect_list`` buffers each cluster's posting array in one
    task with NO spill path, so a pathologically skewed cluster (e.g.
    boilerplate embeddings all landing on one centroid) would OOM where
    the old self-join merely spilled. Clusters LARGER than the cap are
    therefore routed to the spillable sort-merge self-join instead —
    the SAME domination predicate, so the result set is identical row
    for row whatever the cap; only the execution strategy (and its
    memory bound) changes. Both branches hang off one cluster-keyed
    exchange (the count window shares it with the groupBy), so the
    assignment pipeline still executes once. ``None`` disables the
    reroute (every cluster takes the array path).
    """
    cents = centroids if centroids is not None else label_centroids(
        corpus, label_col, vec_col
    )
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm(vec_col).alias("n"),
    )
    # ``cluster`` is never NULL (every row, garbage included, assigns to a
    # real label), so this filter drops no row. It is there for the plan:
    # the over-cap self-join infers ``isnotnull(cluster)`` on its right
    # side only, and without the same filter on every instance that side
    # no longer canonicalizes to the shared cluster exchange and re-runs
    # the whole assignment
    assigned = _assign_clusters(c, cents, "v", 1).filter(
        F.col("cluster").isNotNull()
    )
    hot = None
    if max_cluster_size is not None:
        counted = assigned.withColumn(
            "_csize", F.count(F.lit(1)).over(Window.partitionBy("cluster"))
        )
        hot = counted.filter(
            F.col("_csize") > max_cluster_size
        ).drop("_csize")
        assigned = counted.filter(
            F.col("_csize") <= max_cluster_size
        ).drop("_csize")
    grouped = assigned.groupBy("cluster").agg(
        F.array_sort(F.collect_list(F.struct("id", "v", "n"))).alias("ms")
    )
    # element i's candidate dominators are exactly the elements before it
    # in id order; exists() short-circuits on the first hit, so heavy
    # near-duplicate clusters pay FEWER cosine folds than the join form
    dominated = F.exists(
        F.slice("ms", 1, F.col("i")),
        lambda b: (b["id"] < F.col("a").getField("id"))
        & (
            cosine_from_norms(
                F.col("a").getField("v"),
                b["v"],
                F.col("a").getField("n"),
                b["n"],
            )
            > F.lit(threshold)
        ),
    )
    out = (
        grouped.select("cluster", F.posexplode("ms").alias("i", "a"), "ms")
        .select(
            F.col("a").getField("id").alias("id"),
            "cluster",
            (~F.coalesce(dominated, F.lit(False))).alias("keep"),
        )
    )
    if hot is None:
        return out
    # over-cap clusters: the pre-r13 spillable self-join form — the SAME
    # predicate (``b.id < a.id`` and the identical cosine expression), so
    # the union below is exactly the uncapped result set. ``cluster`` is
    # never NULL (_assign_clusters coalesces garbage rows to the sentinel
    # key), so plain equality matches the groupBy's grouping.
    #
    # Plan shape (measured at the 64k x nlist=256 probe): ``keep`` is
    # derived by AGGREGATING the left join (count of dominators == 0),
    # NOT by a semi-join + join-back — the join-back instance pruned
    # ``v``/``n`` from its copy of the pipeline, de-canonicalizing the
    # shared cluster exchange and forcing a full extra assignment pass
    # (~1.7x the whole query). With both join sides and the array
    # branch consuming the identical (id, v, n, cluster, _csize)
    # columns and the same not-null filter (see ``assigned``), all three
    # instances canonicalize to ONE exchange and the assignment pipeline
    # executes once (pinned by TestSemanticDedup's executed-plan
    # assertions). The count aggregate partially
    # aggregates map-side, so the O(cluster^2) join matches never
    # shuffle.
    # the merge hint is load-bearing: the planner's size estimate for the
    # hot side can be far under the broadcast threshold, and a broadcast
    # build of an OVER-CAP cluster set is exactly the unbounded memory
    # this path exists to avoid — sort-merge spills
    a, b = hot.alias("a").hint("merge"), hot.alias("b").hint("merge")
    hot_out = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("b.id") < F.col("a.id"))
            & (
                cosine_from_norms("a.v", "b.v", "a.n", "b.n")
                > F.lit(threshold)
            ),
            "left",
        )
        .groupBy(
            F.col("a.id").alias("id"), F.col("a.cluster").alias("cluster")
        )
        .agg((F.count(F.col("b.id")) == 0).alias("keep"))
    )
    return out.unionByName(hot_out)


# ---------------------------------------------------------------------------
# Product quantization (PQ)
#
# The memory layer of billion-scale ANN (the PQ in IVF-PQ): each vector is
# split into ``m`` subvectors and every subvector is replaced by the id of
# its nearest codebook centroid — a 64-dim float32 vector (256 B) becomes
# m=8 one-byte codes, 32x smaller, so a 100 TB embedding corpus's index
# fits in cluster memory. Search never decodes: a query precomputes one
# lookup table of subspace distances per codebook entry, and a corpus
# row's approximate distance is m table lookups (ADC — asymmetric distance
# computation).
#
# Codebook training is deterministic by design (the repo-wide contract
# that makes approximate structures oracle/test-checkable): instead of
# randomized k-means, each subspace buckets its subvectors by fixed LCG
# hyperplane signs and takes the rounded per-dimension mean of each
# non-empty bucket — "LSH-initialized one-step k-means". Same corpus,
# same codebook, bit for bit, in any engine.
# ---------------------------------------------------------------------------


def _subspace_slices(vec: str, dims: int, m: int) -> list[Column]:
    d = dims // m
    return [F.slice(F.col(vec), j * d + 1, d) for j in range(m)]


def train_pq_codebook(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
    m: int = 8,
    n_planes: int = 4,
    decimals: int = 6,
    refine_iters: int = 0,
) -> DataFrame:
    """(subspace, code, centroid: array<double>) — ks <= 2^n_planes dense
    codes per subspace. One narrow pass over the corpus: every row emits m
    (subspace, bucket, subvector) tuples via a single generator, one
    partial-aggregated groupBy computes the per-dimension means, and a
    window over the tiny (m x ks) result densifies bucket ids into
    contiguous codes.

    ``refine_iters`` runs that many Lloyd iterations per subspace after
    the hyperplane-bucket init (standard PQ training, Jegou et al.
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
    the init buckets are sign-pattern cones whose means approximate
    direction but average away magnitude; k-means refinement cuts the
    per-subspace distortion that directly bounds ADC ranking quality).
    Each iteration is one corpus pass: the m subvectors per row assign
    to their nearest current centroid via the same broadcast fold shape
    as ``pq_encode`` (rounded dsq key, smaller-code tie-break — fully
    deterministic), and one partial-aggregated groupBy recomputes the
    rounded per-dimension means. Codes whose cell empties vanish and
    the ids re-densify, so the output contract is identical to the
    init's. Default 0 keeps the value-pinned oracle entries on the
    replayed init-only chain."""
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    if refine_iters < 0:
        raise ValueError(
            f"train_pq_codebook: refine_iters must be >= 0, got "
            f"{refine_iters}"
        )
    d = dims // m
    # malformed vectors (NULL / shorter than dims) are excluded from
    # training (review r6): un-filtered, a short vector's padded-NULL dot
    # products bucket it to 0 and pollute bucket-0 centroid membership —
    # and a NULL bucket would densify to code 0 (window NULLS FIRST),
    # shifting every real code by one. pq_encode marks such rows
    # NULL-coded and every search path skips them; the PQ oracle applies
    # the identical filter, so the engines stay value-exact on dirty data.
    corpus = corpus.filter(well_formed_vector(vec_col, dims))
    subs = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                random_projection_bucket(
                    F.transform(sv, lambda x: x.cast("double")),
                    _lcg_planes(n_planes, d, seed=42 + j),
                ).alias("bucket"),
                F.transform(sv, lambda x: x.cast("double")).alias("sv"),
            )
            for j, sv in enumerate(_subspace_slices(vec_col, dims, m))
        ]
    )
    exploded = corpus.select(F.explode(subs).alias("s")).select("s.*")
    per = exploded.groupBy("subspace", "bucket").agg(
        # round_fixed like the kmeans means (review r7, ADVICE r6)
        *[
            round_fixed(F.avg(F.element_at("sv", i)), decimals).alias(
                f"_m{i}"
            )
            for i in range(1, d + 1)
        ]
    )
    w = Window.partitionBy("subspace").orderBy("bucket")
    cb = per.select(
        "subspace",
        (F.row_number().over(w) - 1).alias("code"),
        F.array(*[F.col(f"_m{i}") for i in range(1, d + 1)]).alias("centroid"),
    )
    if not refine_iters:
        return cb
    spark = corpus.sparkSession
    subvecs = exploded.select("subspace", "sv")
    for _ in range(refine_iters):
        # materialize the tiny (m x ks) artifact per iteration: the
        # next assignment pass broadcasts it, and rebuilding from rows
        # keeps the lineage flat instead of stacking one
        # crossJoin+aggregate per iteration into the final plan
        cb = spark.createDataFrame(cb.collect(), cb.schema)
        cb = _pq_lloyd_step(subvecs, cb, d, decimals)
    return cb


def _pq_lloyd_step(
    subvecs: DataFrame, codebook: DataFrame, d: int, decimals: int
) -> DataFrame:
    """One Lloyd iteration over the exploded (subspace, sv) frame:
    assign each subvector to its subspace's nearest current centroid
    (the pq_encode fold — rounded dsq key, smaller-code tie-break) and
    recompute rounded per-dimension means. Emptied cells vanish and the
    surviving codes re-densify in old-code order."""
    code = F.aggregate(
        F.transform(
            F.element_at(F.col("_cb"), F.col("subspace") + 1),
            lambda c: round_fixed(_l2sq(F.col("sv"), c)),
        ),
        F.struct(
            F.lit(float("inf")).alias("d"),
            F.lit(-1).alias("i"),
            F.lit(0).alias("n"),
        ),
        lambda acc, dist: F.struct(
            F.when(dist < acc["d"], dist).otherwise(acc["d"]).alias("d"),
            F.when(dist < acc["d"], acc["n"]).otherwise(acc["i"]).alias("i"),
            (acc["n"] + 1).alias("n"),
        ),
    )["i"]
    assigned = (
        subvecs.crossJoin(broadcast(_codebook_array(codebook)))
        .withColumn("_code", code)
        .drop("_cb")
        .filter(F.col("_code") >= 0)  # never-firing argmin = garbage row
    )
    per = assigned.groupBy("subspace", "_code").agg(
        *[
            round_fixed(F.avg(F.element_at("sv", i)), decimals).alias(
                f"_m{i}"
            )
            for i in range(1, d + 1)
        ]
    )
    w = Window.partitionBy("subspace").orderBy("_code")
    return per.select(
        "subspace",
        (F.row_number().over(w) - 1).alias("code"),
        F.array(*[F.col(f"_m{i}") for i in range(1, d + 1)]).alias(
            "centroid"
        ),
    )


def _codebook_array(codebook: DataFrame) -> Column:
    """One-row broadcastable nested array: cb[j+1][code+1] = centroid."""
    per_sub = codebook.groupBy("subspace").agg(
        F.array_sort(
            F.collect_list(F.struct("code", "centroid"))
        ).alias("cents")
    )
    return per_sub.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "cents"))),
            lambda s: F.transform(s["cents"], lambda c: c["centroid"]),
        ).alias("_cb")
    )


def well_formed_vector(vec_col: Column | str, dims: int) -> Column:
    """The ONE copy of the malformed-vector predicate (review r6 — it
    had been pasted at every filter site): a vector is well-formed iff
    non-NULL, with at least ``dims`` components, none of its first
    ``dims`` components NULL or non-finite. The element-level checks
    matter cross-engine: an interior NULL crashes DuckDB's
    ``list_dot_product`` outright while Spark folds it to a NULL score,
    and an inf/NaN component poisons every distance downstream into
    NaN/inf, whose SORT ORDER is engine-specific (DuckDB ranks NaN
    FIRST under ``DESC``; Spark's struct-sort pre-reduce ranks it last;
    an all-inf subspace makes ``pq_encode``'s strict-less argmin never
    fire while the oracle's ROW_NUMBER always assigns a code) — so such
    rows must be out of contract on BOTH engines, not an
    engine-specific behavior (review r6 pass 7). Components must also
    sit within ``VEC_ABS_MAX`` (review r7, ADVICE r6): a huge-but-finite
    component passes isfinite yet overflows dot/norm/distance to
    inf/NaN downstream — the same engine-specific orderings by another
    route — and would push the floor-quantized keys past the
    long-exact range. The SQL twin is
    ``plans.vector_queries.sql_well_formed``; ``TestVectorContract``
    pins the two to accept identical rows. Callers that do math on the
    components slice to ``dims`` (over-length rows are usable on their
    leading dims); rows failing this predicate are excluded from
    training/search and surface as NULL-coded/absent, on both
    engines."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return (
        c.isNotNull()
        & (F.size(c) >= F.lit(dims))
        & ~F.exists(
            F.slice(c, 1, dims),
            # NOT (|x| <= bound) also catches NaN (all compares false),
            # but keep the explicit isNull — and note abs(inf) > bound
            # covers both infinities
            lambda x: x.isNull() | ~(F.abs(x) <= F.lit(VEC_ABS_MAX)),
        )
    )


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# corpus size at or above which pq_encode auto-switches to the Arrow
# path: the per-subspace argmin fold is ~1k interpreted HOF ops per row
# (measured 13.7 s for 200k rows at dims=64/m=8) — irrelevant at bench
# scale, the dominant term of a bulk encode. The probe that decides is
# a bounded limit-count of the input (one cheap scan job).
_ARROW_ENCODE_ROWS_MIN = 50_000


def _bulk_encode_impl(df: DataFrame) -> str:
    """The ONE copy of the encode-impl probe (review r6 pass 12 — it
    had been pasted at three sites): bounded limit-count of ``df``,
    'arrow' at or past ``_ARROW_ENCODE_ROWS_MIN``. Probe the RAW source
    frame, never a lazy assignment lineage — the count executes the
    frame's plan for its first 50k rows."""
    probe_n = (
        df.select(F.lit(1).alias("_one"))
        .limit(_ARROW_ENCODE_ROWS_MIN)
        .count()
    )
    return "arrow" if probe_n >= _ARROW_ENCODE_ROWS_MIN else "fold"


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
    m: int = 8,
    out_col: str = "pq_codes",
    impl: str | None = None,
) -> DataFrame:
    """Attach ``out_col``: array of m codebook ids (the 32x-compressed
    representation), or NULL for a row whose vector cannot be encoded
    (NULL / shorter than ``dims`` — its subspace distances come back NULL
    and the argmin never fires). A NULL marker instead of a partial code
    matters downstream: a sentinel -1 inside the array would turn ADC's
    ``element_at(lut, code+1)`` into a runtime error that kills the whole
    scan; search paths (`pq_topk`, `probe_ivfpq_index`) skip NULL-coded
    rows instead, and ``filter(out_col IS NULL)`` is the malformed-vector
    diagnostic.

    Two implementations (``impl=None`` auto-picks by a bounded
    limit-count of ``df``, the ``_ARROW_ENCODE_ROWS_MIN`` threshold;
    forced values for tests): ``"fold"`` is a pure broadcast +
    projection — the corpus never shuffles; each subspace's argmin is
    the same runtime fold as IVF's cluster assignment (lambda-variable
    accumulator, O(ks) plan), zero Python, but interpreted per element.
    ``"arrow"`` is the bulk-encode path (:func:`_pq_encode_arrow`):
    same zero-shuffle shape via ``mapInPandas``, the per-subspace
    distances vectorized in numpy with the SAME per-dim left-to-right
    accumulation and 6dp rounding, so codes are identical — pinned by
    ``test_pq_encode_arrow_matches_fold``."""
    if impl not in (None, "fold", "arrow"):
        raise ValueError(
            f"pq_encode: impl must be None, 'fold' or 'arrow', got {impl!r}"
        )
    if impl is None:
        impl = _bulk_encode_impl(df)
    if impl == "arrow":
        return _pq_encode_arrow(df, codebook, vec_col, dims, m, out_col)
    codes = F.array(
        *[
            F.aggregate(
                F.transform(
                    F.element_at(F.col("_cb"), j + 1),
                    # round_fixed BEFORE the argmin compare (review r6
                    # + r7): the oracle recomputes this sum with
                    # DuckDB's unordered hash-agg SUM — comparing raw
                    # fold results across engines lets a last-ulp
                    # difference flip a near-tie encode, and decimal
                    # F.round vs binary ROUND additionally disagree on
                    # .5-boundary doubles; the floor formula fixes both
                    # sides to the same IEEE ops. Out-of-contract rows
                    # (where dsq could overflow past the floor-safe
                    # range) are NULL-coded by the well-formed output
                    # guard below, so garbage keys never escape.
                    lambda c: round_fixed(
                        _l2sq(F.transform(sv, lambda x: x.cast("double")), c)
                    ),
                ),
                F.struct(
                    F.lit(float("inf")).alias("d"),
                    F.lit(-1).alias("i"),
                    F.lit(0).alias("n"),
                ),
                lambda acc, dist: F.struct(
                    F.when(dist < acc["d"], dist).otherwise(acc["d"]).alias(
                        "d"
                    ),
                    F.when(dist < acc["d"], acc["n"]).otherwise(
                        acc["i"]
                    ).alias("i"),
                    (acc["n"] + 1).alias("n"),
                ),
            )["i"]
            for j, sv in enumerate(_subspace_slices(vec_col, dims, m))
        ]
    )
    return (
        df.crossJoin(broadcast(_codebook_array(codebook)))
        .withColumn(
            out_col,
            # the explicit well-formed guard NULL-codes rows the
            # never-firing argmin can no longer catch (review r7): a
            # huge-but-finite vector used to overflow dsq to inf and
            # fail the strict-less compare, but Spark's FLOOR saturates
            # inf to Long.MAX — a finite garbage key that WOULD fire.
            # The predicate is the same contract the Arrow path's
            # _vector_batch bound check and the oracle's
            # sql_well_formed CTE filter apply.
            F.when(
                well_formed_vector(vec_col, dims)
                & (F.array_min(codes) >= 0),
                codes,
            ),
        )
        .drop("_cb")
    )


def _pq_encode_arrow(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str,
    dims: int,
    m: int,
    out_col: str,
) -> DataFrame:
    """The bulk-encode implementation behind :func:`pq_encode` (see
    there for the contract). Per Arrow batch and subspace, the squared
    distances to all ks centroids accumulate per-DIM over vectorized
    (rows x ks) planes — the exact left-to-right order of the fold's
    ``_l2sq``, so even before the 6dp rounding the values are
    bit-identical (no matmul-expansion cancellation). Malformed rows
    (NULL / shorter than dims / non-finite or interior-NULL among the
    first dims) NULL-code exactly like the fold's never-firing argmin;
    the argmin itself is numpy's first-occurrence minimum = the fold's
    smaller-code tie-break."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    d = dims // m
    by_sub: dict[int, list] = {}
    for r in codebook.select("subspace", "code", "centroid").collect():
        by_sub.setdefault(r[0], []).append((r[1], r[2]))
    mats = []
    for j in range(m):
        entries = sorted(by_sub.get(j, []), key=lambda t: t[0])
        if [c for c, _ in entries] != list(range(len(entries))) or not entries:
            raise ValueError(
                f"pq_encode: codebook subspace {j} is empty or has "
                f"non-dense code ids — train_pq_codebook emits dense codes"
            )
        # loud on a NULL/ragged/interior-NULL/non-finite centroid
        # (review r6 pass 11 — np.argmin over a NaN column would pick
        # the broken code for EVERY row where the fold's strict-less
        # skips it; a broken codebook is a caller bug either way, the
        # same loud-quantizer contract as _assign_clusters)
        try:
            mat = np.asarray([cv for _, cv in entries], dtype=np.float64)
            clean = (
                mat.ndim == 2
                and mat.shape[1] == d
                and bool(np.isfinite(mat).all())
            )
        except (TypeError, ValueError):
            clean = False
        if not clean:
            raise ValueError(
                f"pq_encode: codebook subspace {j} holds a NULL, ragged "
                f"or non-finite centroid (need {d} finite dims) — "
                f"train_pq_codebook over well-formed vectors is clean"
            )
        mats.append(mat)
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(IntegerType()), True)]
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V, bad = _vector_batch(
                pdf[vec_col].to_numpy(), dims, exact_len=False
            )
            n = len(pdf)
            codes = np.zeros((n, m), dtype=np.int32)
            for j in range(m):
                SV = V[:, j * d : (j + 1) * d]
                C = mats[j]
                dsq = np.zeros((n, C.shape[0]), dtype=np.float64)
                for i in range(d):  # exact _l2sq fold order per scalar
                    diff = SV[:, i : i + 1] - C[None, :, i]
                    dsq += diff * diff
                dsq = _round6_floor(dsq)
                # an all-inf dsq row (square overflow on a huge-but-
                # finite vector) never fires the fold's strict-less
                # argmin -> the row NULL-codes; replicate instead of
                # letting argmin emit code 0 (review r6 pass 11)
                bad |= ~np.isfinite(dsq).any(axis=1)
                codes[:, j] = np.argmin(dsq, axis=1)  # first min = low code
            col = [None if bad[i] else codes[i].tolist() for i in range(n)]
            out = pdf.copy()
            out[out_col] = col
            yield out

    return df.mapInPandas(encode, schema=out_schema)


def _exact_rerank(
    cand: DataFrame,
    refine_corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    dims: int,
) -> DataFrame:
    """The ONE copy of the exact-L2 re-rank stage shared by
    :func:`pq_topk` and :func:`probe_ivfpq_index` (review r6 — the block
    had been pasted in both, and the two must stay rank-identical by
    contract). ``cand`` is the bounded (query_id, neighbor_id) candidate
    set; it broadcasts into the corpus join so the refine never rescans
    the corpus. Both sides pass :func:`well_formed_vector` first
    (review r6 pass 7): an index can hold codes for a row whose vector
    in TODAY'S ``refine_corpus`` is NULL/short/non-finite (stale index,
    rewritten corpus), and such a row's exact dist folds to NULL —
    which ranks FIRST under the asc window and would evict true
    neighbors. Filtering (not NULLS LAST) is the contract: the oracle's
    refine stage inner-joins candidates against its well-formed ``e``
    CTE, so a malformed candidate must VANISH (ranks close up), not
    occupy a trailing rank. Both vectors are then sliced to ``dims``
    before the distance (an over-length vector is usable on its leading
    dims); dist is 6dp-rounded BEFORE ranking, so the ranking key is
    the output key and never rides a raw cross-engine float sum."""
    dvec = lambda c: F.transform(  # noqa: E731 — local projection shorthand
        F.slice(F.col(c), 1, dims), lambda x: x.cast("double")
    )
    vecs = refine_corpus.filter(well_formed_vector(vec_col, dims)).select(
        F.col(id_col).alias("neighbor_id"), dvec(vec_col).alias("_n_vec")
    )
    q_full = queries.filter(well_formed_vector(vec_col, dims)).select(
        F.col(id_col).alias("query_id"), dvec(vec_col).alias("_q_vec")
    )
    exact = (
        vecs.join(broadcast(cand), "neighbor_id")
        .join(broadcast(q_full), "query_id")
        .withColumn(
            # round_fixed, not F.round (review r7, ADVICE r6): the
            # ranking key derives from an engine-order-different SUM,
            # so both engines must also round it with the same IEEE ops
            "dist",
            round_fixed(F.sqrt(_l2sq(F.col("_q_vec"), F.col("_n_vec")))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist")
    )


def _adc_rank(
    codes_frame: DataFrame,
    q_frame: DataFrame,
    codebook: DataFrame,
    dims: int,
    m: int,
    codes_col: str = "pq_codes",
    join_key: str | None = None,
) -> DataFrame:
    """The ONE copy of the ADC scoring stage shared by :func:`pq_topk`
    and :func:`probe_ivfpq_index` (review r6 pass 8 — the LUT build,
    adist fold, rounding and ranking window had been pasted in both,
    and the two paths must rank identically by contract; the same
    keep-in-lockstep rationale as :func:`_exact_rerank`). ``q_frame``
    carries (query_id, q_vec[, join_key]); ``codes_frame`` carries
    (neighbor_id, codes_col[, join_key]). With ``join_key`` (the probe
    path's ``cluster``) the broadcast join is an equi-join on it;
    without, it is the non-equi query!=neighbor broadcast join. Returns
    the full ranked frame (neighbor_id, query_id, adist, rank).

    Each query precomputes lut[j][code] = ||q_j - centroid||^2 once
    (m x ks doubles, built on the tiny query side); a corpus row's
    distance is then m array lookups over its code array. Both the LUT
    entries and the total adist are ``round_fixed`` BEFORE any
    cross-row comparison (review r6 + r7): the ranking key must not
    depend on float summation order, which differs between Spark's
    ordered fold and the oracle's hash-agg SUM — and the floor formula
    keeps the rounding itself bit-identical cross-engine where decimal
    F.round vs binary ROUND diverge on .5-boundary doubles."""
    lut = F.transform(
        F.col("_cb"),
        lambda cents_j, j: F.transform(
            cents_j,
            lambda c: round_fixed(
                _l2sq(
                    F.transform(
                        F.slice(
                            F.col("q_vec"), j * (dims // m) + 1, dims // m
                        ),
                        lambda x: x.cast("double"),
                    ),
                    c,
                )
            ),
        ),
    )
    q_lut = (
        q_frame.crossJoin(broadcast(_codebook_array(codebook)))
        .withColumn("_lut", lut)
        .select("query_id", "_lut", *([join_key] if join_key else []))
    )
    adist = F.aggregate(
        F.zip_with(
            F.col(codes_col),
            F.col("_lut"),
            lambda code, sub_lut: F.element_at(sub_lut, code + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # malformed vectors skipped. filter_unpushed, not .filter (review
    # r6 pass 10): with a LAZY pq_encode lineage, PushPredicateThrough*
    # inlines the ~1k-op encode expression into this predicate — the
    # whole encode ran twice per corpus row (measured: 35 s -> 25 s at
    # a 200k-row corpus just from fencing). For materialized posting
    # lists the fence costs one monotonically_increasing_id per row.
    from s3_access_logs_spark.functions.expr import filter_unpushed

    base = filter_unpushed(codes_frame, F.col(codes_col).isNotNull())
    if join_key is not None:
        scored = base.join(broadcast(q_lut), join_key).filter(
            F.col("query_id") != F.col("neighbor_id")
        )
    else:
        scored = base.join(
            broadcast(q_lut), F.col("query_id") != F.col("neighbor_id")
        )
    scored = scored.withColumn("adist", round_fixed(adist))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w))


def pq_topk(
    encoded_corpus: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
    dims: int = 64,
    m: int = 8,
    refine_corpus: DataFrame | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, rank, adist) by approximate L2
    distance, ascending. Each query precomputes lut[j][code] =
    ||q_j - centroid||^2 once (m x ks doubles, built on the tiny query
    side); a corpus row's distance is then m array lookups over its code
    array — the corpus is scanned once, never decoded, never shuffled
    until the final per-query top-k window.

    With ``refine_corpus`` the ADC ranking becomes a candidate generator:
    the top ``k * refine_factor`` per query re-rank by EXACT L2 over the
    original vectors (the standard IVF-PQ refine stage, recovering the
    recall PQ quantization loses), and the output becomes (query_id,
    neighbor_id, rank, dist) with the exact distance. The exact read is
    candidate-pruned — the bounded candidate set broadcasts into the
    corpus join, so the refine never rescans the corpus. The ranking key
    is the 6dp-rounded distance (same cross-engine discipline as adist:
    a raw float key would depend on summation order)."""
    # malformed QUERY vectors are excluded like corpus ones (review r6):
    # un-filtered, a NULL/short query builds an all-NULL LUT and the
    # NULLS-FIRST window would emit k NULL-adist rows for it, where the
    # oracle (whose `e` CTE feeds queries too) emits none
    queries = queries.filter(well_formed_vector(vec_col, dims))
    ranked = _adc_rank(
        encoded_corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(codes_col)
        ),
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        codebook,
        dims,
        m,
        codes_col=codes_col,
    )
    if refine_corpus is None:
        return ranked.filter(F.col("rank") <= k).select(
            # adist is already 6dp (rounded where it became the ranking key)
            "query_id", "neighbor_id", "rank", "adist"
        )
    if refine_factor < 1:
        raise ValueError(
            f"pq_topk: refine_factor must be >= 1, got {refine_factor}"
        )
    cand = ranked.filter(F.col("rank") <= k * refine_factor).select(
        "query_id", "neighbor_id"
    )
    return _exact_rerank(cand, refine_corpus, queries, k, id_col, vec_col, dims)


def pq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame | None = None,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    m: int = 8,
    codebook_refine_iters: int = 0,
) -> DataFrame:
    """Residual IVF-PQ ADC search without a materialized index — the
    in-memory twin of ``build_ivfpq_index(residual=True)`` +
    ``probe_ivfpq_index(residual=True)`` (same assignment, residual,
    encode and ADC stages, minus the parquet hop), so the residual
    construction has a catalog entry whose DuckDB oracle replays the
    whole chain value-exactly. Every per-vector stage is a broadcast +
    projection (quantizer, centroid vectors, codebook are all
    broadcast-sized); the corpus shuffles only at the final per-query
    ranking window, same as ``pq_topk``. ``codebook=None`` trains the
    residual codebook from the corpus (the production path persists it
    next to the index instead).

    DEFAULT DIVERGENCE from the materialized path (round 8, documented
    not accidental): ``build_ivfpq_index(residual=True)`` defaults to a
    4-iter Lloyd-REFINED codebook (the measured production policy),
    while this twin defaults to ``codebook_refine_iters=0`` because its
    purpose is the value-exact DuckDB oracle, which replays the
    init-only trainer. To mirror a default-built index exactly, pass
    ``codebook_refine_iters=4`` (or the index's own returned codebook).

    Output (query_id, neighbor_id, rank, adist) by approximate L2
    ascending, identical to the probe path's contract."""
    codec = _Codec(True, dims, m, True, codebook)
    if codebook is None:
        codec = codec._replace(codebook=_train_codebook(
            corpus, centroids, codec, id_col, vec_col, codebook_refine_iters
        ))
    return _score(
        _index_rows(corpus, centroids, codec, id_col, vec_col),
        _query_probes(queries, centroids, codec, nprobe, id_col, vec_col),
        codec,
        k,
    )


def pq_reconstruct(
    encoded: DataFrame,
    codebook: DataFrame,
    codes_col: str = "pq_codes",
    out_col: str = "reconstructed",
) -> DataFrame:
    """Decode codes back to the concatenated centroid vector (test /
    diagnostics path — search itself never reconstructs)."""
    rec = F.flatten(
        F.zip_with(
            F.col(codes_col),
            F.col("_cb"),
            lambda code, cents: F.element_at(cents, code + 1),
        )
    )
    return (
        encoded.crossJoin(broadcast(_codebook_array(codebook)))
        .withColumn(out_col, rec)
        .drop("_cb")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the composed billion-scale index. IVF prunes WHICH rows a query
# reads (nprobe/nlist of the corpus, enforced as parquet partition
# pruning); PQ shrinks WHAT each row costs (m one-byte codes instead of
# dims floats, scored by ADC table lookup). Together: a 100 TB embedding
# corpus becomes a few-hundred-GB index whose per-query scan touches a
# couple of partitions and never decodes a vector.
# ---------------------------------------------------------------------------


def _residual_col(vec_col: str, cent_col: str, dims: int) -> Column:
    """``vec - coarse_centroid`` over the leading ``dims`` components, as
    array<double>; NULL for a malformed vector (so downstream encode
    NULL-codes it, the same marker raw encoding produces)."""
    diff = F.zip_with(
        F.transform(
            F.slice(F.col(vec_col), 1, dims), lambda x: x.cast("double")
        ),
        F.col(cent_col),
        lambda x, c: x - c,
    )
    return F.when(well_formed_vector(vec_col, dims), diff)


#: Store-root sidecar carrying the IVF-PQ encode contract. A probe (or
#: append) whose residual/dims/m flags disagree with the build would
#: silently return garbage distances — the sidecar turns that footgun
#: into a loud ValueError at call time.
IVFPQ_META_SIDECAR = "_ivfpq_meta.json"


def _ivfpq_meta(dims: int, m: int, residual: bool) -> dict:
    return {"dims": int(dims), "m": int(m), "residual": bool(residual)}


def stamp_ivfpq_meta(
    spark, index_path: str, dims: int, m: int, residual: bool
) -> None:
    """EXPLICITLY stamp an index's encode contract — the recovery path
    for an index missing its sidecar (built before the sidecar scheme,
    or a build that crashed between the data write and the stamp). A
    deliberate, named act by an operator who KNOWS the build-time
    flags; probe/append never adopt caller flags implicitly, because a
    wrong adoption would persistently self-certify garbage distances."""
    from s3_access_logs_spark.sources.fsutil import write_json_sidecar

    write_json_sidecar(
        spark, index_path, IVFPQ_META_SIDECAR, _ivfpq_meta(dims, m, residual)
    )


def build_ivfpq_index(
    corpus: DataFrame,
    dst: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dims: int = 64,
    m: int = 8,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    residual: bool = False,
    codebook_refine_iters: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One pass over the corpus: assign each vector its nearest coarse
    centroid AND its PQ codes, write (neighbor_id, pq_codes) posting lists
    hive-partitioned by cluster. Returns (centroids, codebook) as
    MATERIALIZED local-rows frames (``_materialize_artifact``) — persist
    both next to the index; a probe needs only these plus the pruned
    partitions, never the corpus, and never re-executes their training
    lineage per action.

    ``residual=True`` encodes ``v - coarse_centroid(cluster)`` instead of
    the raw vector (the standard IVF-PQ residual construction): raw PQ
    spends its entire code budget re-describing the cell's position, so a
    clustered corpus collapses every same-cell member onto one code tuple
    and loses all within-cell ordering to tie-breaks (measured: ADC
    recall@10 0.15 on the Gaussian-blob corpus even at ks=128). Encoding
    the residual spends the budget on the within-cell offset — the only
    information a probe does not already know from the cluster id —
    lifting clustered ADC recall to the IVF ceiling. A probe must then
    build its LUT from the query's residual per probed cell
    (``probe_ivfpq_index(residual=True)``); a mismatched flag between
    build and probe returns garbage distances, so the encode contract
    (residual/dims/m) is PERSISTED with the index as a store-root
    sidecar (``IVFPQ_META_SIDECAR``) and validated by every probe and
    append — a mismatch fails loudly instead of returning garbage. The
    per-cell centroid join is a broadcast of the nlist-row quantizer —
    the corpus still never shuffles. Residual
    components are bounded by 2x``VEC_ABS_MAX``; rows whose residual
    exceeds the well-formed bound NULL-code (skipped by search), the
    same out-of-contract disposition as raw mode."""
    spark = corpus.sparkSession
    codec = _Codec(True, dims, m, residual)
    _index_contract(spark, dst, codec, "build_ivfpq_index", existing=False)
    cents = _materialize_artifact(
        centroids if centroids is not None else label_centroids(
            corpus, label_col, vec_col
        )
    )
    # Lloyd-refined codebooks are the production default FOR RESIDUAL
    # indexes (round 8, VERDICT r7 item 1), measured on the clustered
    # corpus at 4 iters: residual refine-stage recall 0.575 -> 0.70
    # (ADC 0.3375 -> 0.2875, the documented small tradeoff). In RAW
    # mode refinement hurts across the board (ADC 0.15 -> 0.0625,
    # refine 0.4125 -> 0.3375): raw codes must describe the cell
    # position itself, and the sign-cone init's directional diversity —
    # which the refine stage's candidate set relies on — is exactly
    # what Lloyd collapses toward the global cell mass; so raw stays
    # init-only unless the caller opts in. None = this measured policy
    # (4 if residual else 0); the value-pinned oracle entries train
    # their own codebooks explicitly and are unaffected.
    if codebook_refine_iters is None:
        codebook_refine_iters = 4 if residual else 0
    codec = codec._replace(codebook=_materialize_artifact(
        codebook if codebook is not None else _train_codebook(
            corpus, cents, codec, id_col, vec_col, codebook_refine_iters
        )
    ))
    _write_posting(
        _index_rows(corpus, cents, codec, id_col, vec_col), dst, "overwrite"
    )
    # stamp the encode contract AFTER the data write (overwrite mode
    # clears dst first); probes/appends validate against it
    stamp_ivfpq_meta(spark, dst, dims, m, residual)
    return cents, codec.codebook


def append_to_ivfpq_index(
    spark,
    new_vectors: DataFrame,
    index_path: str,
    centroids: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    m: int = 8,
    skip_existing: bool = True,
    residual: bool = False,
) -> dict[str, int]:
    """Incrementally grow a materialized IVF-PQ index — the compressed
    twin of :func:`append_to_ivf_index`, same contract throughout.

    Both trained artifacts are required and never recomputed: new
    centroids would orphan the existing posting lists, and a new
    CODEBOOK would silently change what every stored pq_code means —
    probes would mix two incompatible quantizations and return garbage
    distances, so drift is handled the same way as the plain IVF index
    (monitor the returned stats, rebuild when tolerance is exceeded).
    Cost: one narrow assign+encode pass over the slice + one shuffle of
    the slice; ``skip_existing`` makes at-least-once replays no-ops via
    the partition-pruned id anti-join. Fold accumulated small files with
    ``compact_partitions``."""
    return _append(
        spark, new_vectors, index_path, centroids,
        _Codec(True, dims, m, residual, codebook), id_col, vec_col,
        skip_existing, "append_to_ivfpq_index",
    )


def probe_ivfpq_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    m: int = 8,
    refine_corpus: DataFrame | None = None,
    refine_factor: int = 3,
    residual: bool = False,
) -> DataFrame:
    """ADC search over the pruned posting lists: rank each query's
    ``nprobe`` nearest coarse centroids, scan ONLY those ``cluster=``
    partitions (plan-time literal filter -> partition pruning, as
    ``probe_ivf_index``), score rows by m lookup-table accesses. Output
    (query_id, neighbor_id, rank, adist), approximate L2 ascending.

    ``residual=True`` probes an index built with
    ``build_ivfpq_index(residual=True)``: the LUT is built from the
    query's residual against EACH probed cell's coarse centroid —
    ``||q - v||^2 == ||(q - c) - (v - c)||^2``, so adist still
    approximates the true distance and stays comparable across probed
    cells. Cost shape is unchanged: the per-(query, cluster) LUT rows
    already exist (the probe fan-out), and the centroid join is a
    broadcast of the nlist-row quantizer. The flag MUST match the
    build-side flag — raw codes scored by a residual LUT (or vice
    versa) are garbage distances — and is validated against the index's
    persisted sidecar contract (ValueError on mismatch).

    ``refine_corpus`` enables the standard two-stage refine (VERDICT r4
    item 6): ADC distances are approximate (the corpus side is its
    32x-compressed reconstruction), so take the ADC top
    ``k * refine_factor`` candidates, read ONLY those candidates' full
    vectors from ``refine_corpus`` — the bounded candidate id set is
    collected and pushed into the scan as an ``isin`` filter, so the
    corpus read is id-pruned, never a full scan — and re-rank by exact
    L2. Output becomes (query_id, neighbor_id, rank, dist) with the
    EXACT distance; cost adds one pruned read of
    |queries| x k x refine_factor vectors, nothing corpus-scale."""
    if refine_corpus is not None and refine_factor < 1:
        raise ValueError(
            f"probe_ivfpq_index: refine_factor must be >= 1, got "
            f"{refine_factor}"
        )
    top = _probe(
        spark, index_path, queries, centroids,
        _Codec(True, dims, m, residual, codebook),
        k if refine_corpus is None else k * refine_factor,
        nprobe, id_col, vec_col, "probe_ivfpq_index",
    )
    if refine_corpus is None:
        return top
    # localCheckpoint the bounded candidate table (<= |queries| x k x
    # refine_factor rows): it has TWO consumers — the id collect below
    # and the exact-distance join — and its lineage is the whole ADC
    # probe (pruned scan + LUT join + window), which would otherwise
    # execute twice per refine call.
    cand = top.select("query_id", "neighbor_id").localCheckpoint()
    # Candidate-id pruning, two regimes: a SMALL id set becomes an isin
    # plan literal that pushes into the corpus scan (parquet row-group
    # pruning on the id column — the cheapest possible refine read); a
    # LARGE one (big query batches: |queries| x k x refine_factor ids)
    # would balloon plan construction/codegen instead, so past the
    # threshold the candidate frame broadcast-semi-joins the corpus —
    # no scan pruning, but no plan-size cliff either (review r5). The
    # regime probe itself is limit-bounded: collecting at most
    # threshold+1 distinct ids decides the branch, so a million-query
    # batch never materializes its whole id set on the driver just to
    # discard it (the same bounded-probe pattern as
    # sampling.temperature_mixture's cardinality guard).
    _ISIN_MAX = 10_000
    distinct_ids = cand.select("neighbor_id").distinct()
    probe_rows = distinct_ids.limit(_ISIN_MAX + 1).collect()
    pruned = (
        refine_corpus.filter(
            F.col(id_col).isin(sorted(r["neighbor_id"] for r in probe_rows))
        )
        if len(probe_rows) <= _ISIN_MAX
        else refine_corpus.join(
            broadcast(distinct_ids.withColumnRenamed("neighbor_id", id_col)),
            id_col,
            "left_semi",
        )
    )
    return _exact_rerank(cand, pruned, queries, k, id_col, vec_col, dims)
