"""Similarity search over `embeddings` (array<float>, dim 64):
SURVEY.md §2.10 (U5).

* similarity_topk — brute-force cosine top-k: exact baseline; the
  fold-based dot product stays JVM-side (F.zip_with + F.aggregate),
  summing in array order so results are bit-identical to the oracle.
* ann_lsh        — random-hyperplane LSH: the 100 TB path. Planes are
  small *integer-valued* literals (deterministic, engine-portable);
  candidates only form inside a bucket, turning O(n²) into a
  per-bucket join.
* embedding_dedup — cosine near-dup pairs gated by the same LSH
  blocking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pubsub2bq_spark.registry import register
from pubsub2bq_spark.tables import _empty_frame, fan_out, load, materialize


DIM = 64
N_PLANES = 8       # embedding_dedup bucket floor (256) — tight blocking
MAX_PLANES = 32    # bucket-key cost ceiling (one dot product per plane)
TARGET_BUCKET_ROWS = 1024  # bound per-bucket quadratic work
ANN_PLANES = 4     # ann_lsh buckets (16) + Hamming-1 multiprobe


def planes_for_corpus(n_rows: int) -> int:
    """Plane count scaled to corpus size so expected bucket cardinality
    stays bounded (~``TARGET_BUCKET_ROWS``): ceil(log2(n / target)),
    floored at ``N_PLANES`` and capped at ``MAX_PLANES``. Keeps per-bucket
    pair work O(target²) and parallelism ~n/target as the corpus grows —
    a fixed plane count would degrade to O(n²/2^planes) per bucket at
    100 TB. At every oracle/test scale (n ≤ 262 144) this returns the
    floor, so the static 8-plane oracle SQL stays valid there."""
    import math

    if n_rows <= TARGET_BUCKET_ROWS:
        return N_PLANES
    return min(MAX_PLANES, max(N_PLANES, math.ceil(math.log2(n_rows / TARGET_BUCKET_ROWS))))


def _planes(n: int = N_PLANES) -> list[list[int]]:
    """Deterministic integer-valued hyperplanes (no RNG, no fp literals →
    identical on every engine)."""
    return [
        [((p * 73 + i * 37) % 19) - 9 for i in range(DIM)] for p in range(n)
    ]


def _dvec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential fold over array order — deterministic summation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def lsh_bucket(vec: Column, n_planes: int = N_PLANES) -> Column:
    """Sign-bit bucket key from the integer hyperplanes."""
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(float(w)) for w in plane])) > 0, "1").otherwise("0")
        for plane in _planes(n_planes)
    ]
    return F.concat(*bits)


def _lsh_bucket_sql(vec_expr: str, n_planes: int = N_PLANES) -> str:
    bits = []
    for plane in _planes(n_planes):
        lits = ", ".join(f"{w}.0" for w in plane)
        bits.append(
            f"CASE WHEN list_dot_product({vec_expr}, [{lits}]) > 0 THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


def multiprobe_buckets(bucket: Column, n_planes: int) -> Column:
    """The query's own bucket plus every Hamming-distance-1 variant —
    multi-probe LSH: recall of ~n_planes extra buckets without growing
    the table-side index."""
    variants = [bucket]
    for j in range(1, n_planes + 1):
        flipped = F.when(F.substring(bucket, j, 1) == "1", "0").otherwise("1")
        variants.append(
            F.concat(F.substring(bucket, 1, j - 1), flipped, F.substring(bucket, j + 1, n_planes - j))
        )
    return F.array(*variants)


def _multiprobe_sql(bucket_expr: str, n_planes: int) -> str:
    variants = [bucket_expr]
    for j in range(1, n_planes + 1):
        flip = (
            f"CASE WHEN substr({bucket_expr}, {j}, 1) = '1' THEN '0' ELSE '1' END"
        )
        variants.append(
            f"substr({bucket_expr}, 1, {j - 1}) || {flip} || "
            f"substr({bucket_expr}, {j + 1}, {n_planes - j})"
        )
    return "[" + ", ".join(variants) + "]"


_COS_SQL = (
    "list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)


@register(
    "similarity_topk",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        scored AS (
            SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                   {_COS_SQL} AS cos
            FROM (SELECT * FROM v WHERE vec_id % 100 = 0) a
            JOIN v b ON a.vec_id <> b.vec_id
        )
        SELECT query_id, vec_id, round(cos, 6) AS cosine, rn AS rank
        FROM (
            SELECT query_id, vec_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, vec_id ASC) AS rn
            FROM scored
        )
        WHERE rn <= 10
    """,
    doc="Brute-force cosine top-10 neighbors for query vectors "
        "(vec_id % 100 = 0) — the exact-ANN baseline.",
    scale_notes="The exact scan, fragment-parallel (r12): the corpus "
                "shuffles once into hash fragments (one synthetic cell "
                "through the shared _ivf_probe_search kernel), each "
                "cogroup scores its queries×members block in one BLAS "
                "product, and only per-fragment top-10 winners reach "
                "the final merge — top-k under a total order "
                "distributes over any candidate partition, so the "
                "result is exactly the full-scan window's. The former "
                "shape broadcast queries onto the corpus and pushed "
                "q·n scored rows through the top-k shuffle with one "
                "interpreted 64-float fold per row. Still O(q·n) "
                "compute BY DEFINITION (the documented exact "
                "baseline); the IVF family is the sublinear path.",
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    em = fan_out(load(spark, sf_dir, "embeddings"), spark).select("vec_id", _dvec("embedding").alias("v"))
    q = em.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = _ivf_probe_search(
        em.withColumn("cid", F.lit(0)), q.withColumn("cid", F.lit(0))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"), "rank")
    )


@register(
    "ann_lsh",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {_lsh_bucket_sql('CAST(embedding AS DOUBLE[])', ANN_PLANES)} AS bucket
            FROM embeddings
        ),
        probes AS (
            SELECT vec_id, v, unnest({_multiprobe_sql('bucket', ANN_PLANES)}) AS pb
            FROM v WHERE vec_id % 100 = 0
        ),
        scored AS (
            SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS vec_id,
                   {_COS_SQL} AS cos
            FROM probes a
            JOIN v b ON a.pb = b.bucket AND a.vec_id <> b.vec_id
        )
        SELECT query_id, vec_id, round(cos, 6) AS cosine, rn AS rank
        FROM (
            SELECT query_id, vec_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, vec_id ASC) AS rn
            FROM scored
        )
        WHERE rn <= 10
    """,
    doc="Approximate NN: random-hyperplane LSH (4 integer planes → 16 "
        "buckets) with Hamming-1 multi-probe (5 probes per query) — top-10 "
        "searched in ~5/16 of the corpus. Recall vs the exact baseline is "
        "asserted in tests; plane count scales up when embeddings are "
        "actually clustered (these test vectors are near-uniform, the "
        "hardest case for LSH).",
    scale_notes="The scale path: bucketing is map-side; candidates shuffle "
                "on the bucket key so each task scans one bucket. Probes "
                "multiply only the tiny query side. More planes (smaller "
                "buckets) + more probes trade compute for recall without "
                "re-indexing.",
)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    em = fan_out(load(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", _dvec("embedding").alias("v")
    ).withColumn("bucket", lsh_bucket(F.col("v"), ANN_PLANES))
    q = (
        em.filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(multiprobe_buckets(F.col("bucket"), ANN_PLANES)).alias("bucket"),
        )
    )
    # No distinct needed: a vector has exactly ONE bucket and the probe set
    # (own bucket + Hamming-1 flips) is duplicate-free, so each (query, vec)
    # pair forms at most once — dedup here would be a pure extra shuffle.
    scored = (
        em.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _cosine(F.col("qv"), F.col("v")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"), "rank")
    )


N_CELLS = 16       # IVF coarse-quantizer cells
N_PROBE = 4        # cells probed per query


_IVF_SEARCH_FRAGS = 4  # member fragments per cell: kernel parallelism
_IVF_TOPK = 10


def _probe_topk_kernel(left, right, k=_IVF_TOPK):
    """One (cell, fragment) cogroup of the IVF probe search: ``left`` =
    member rows (vec_id, v), ``right`` = the cell's probe rows
    (query_id, qv) replicated to every fragment. Emits each query's
    top-``k`` candidates WITHIN the fragment by (cos DESC, vec_id
    ASC) — exact and mergeable: top-k under a total order distributes
    over any partition of the candidates, so the global window over the
    per-fragment winners equals the window over all scored pairs. The
    cosine is the same dot/(|a||b|) formula as _cosine, accumulated
    SEQUENTIALLY over the dimension axis (_seq_dots) — bit-identical to
    the JVM ``aggregate(zip_with(...))`` fold and DuckDB's
    list_dot_product by CONSTRUCTION, not fp luck (ADVICE r12): the
    earlier BLAS matmul's pairwise summation could flip an ulp at a
    rank tie or a round(.,6) half-boundary and silently change top-k
    output vs the oracle on other data."""
    import numpy as np
    import pandas as pd

    from pubsub2bq_spark.operators.ml_ops import _seq_dots

    empty = _empty_frame(
        (("query_id", "int64"), ("vec_id", "int64"), ("cos", "float64"))
    )
    if not len(left) or not len(right):
        return empty
    ids = left["vec_id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    mem = np.stack(left["v"].iloc[order].to_list()).astype(np.float64)
    qids = right["query_id"].to_numpy(dtype=np.int64)
    qv = np.stack(right["qv"].to_list()).astype(np.float64)
    q2, m2, qm = _seq_dots(qv, mem)
    cos = qm / (np.sqrt(q2)[:, None] * np.sqrt(m2)[None, :])
    out_q, out_v, out_c = [], [], []
    for i in range(len(qids)):
        row = cos[i]
        self_mask = ids == qids[i]
        if self_mask.any():
            row = row.copy()
            row[self_mask] = -np.inf
        # members pre-sorted by vec_id, so a STABLE sort on -cos makes
        # vec_id the tie-break — the window's exact total order.
        sel = np.argsort(-row, kind="stable")[:k]
        sel = sel[np.isfinite(row[sel])]
        if len(sel):
            out_q.append(np.full(len(sel), qids[i], dtype=np.int64))
            out_v.append(ids[sel])
            out_c.append(row[sel])
    if not out_q:
        return empty
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "vec_id": np.concatenate(out_v),
            "cos": np.concatenate(out_c),
        }
    )


_IVF_SERVE_EXPR_MAX = 4096  # member rows below which serving skips Arrow


def _ivf_probe_search(
    asgn: DataFrame,
    probes: DataFrame,
    frag_col: str | None = None,
    k: int = _IVF_TOPK,
    n_members: int | None = None,
) -> DataFrame:
    """(query_id, vec_id, cos) probe-search candidates, ≤ _IVF_TOPK per
    (cell, fragment, query) — the r12 rewrite of the IVF search stage.
    The former shape (broadcast-join probes onto members, score every
    pair JVM-side, window the q·n/nprobe-row relation) moved the WHOLE
    scored cross product through the top-k shuffle — the 64× probe
    measured it at 44.6 s while assignment was already linear. Here the
    corpus shuffles ONCE keyed on (cid, fragment) — the IVF serving
    layout — each cogroup scores its queries×members block in one BLAS
    product, and only top-k-per-fragment winners (q × nprobe × frags ×
    k rows, output-sized) reach the final window. Fragments exist for
    kernel parallelism only; exactness never depends on them.
    ``frag_col`` names a PRECOMPUTED fragment column on ``asgn`` (the
    bucketed serve-from-disk path, where (cid, _f) is the on-disk
    bucket spec so this groupBy needs no exchange); it must hold the
    same pmod(xxhash64(vec_id), frags) values computed here.

    ``n_members`` (when the caller KNOWS the corpus size — e.g. counted
    once at index-build time and cached with the index) dispatches
    small corpora onto the JVM expression path: below
    _IVF_SERVE_EXPR_MAX member rows the two Arrow cogroup stages are
    pure fixed cost (~0.5 s of Python-worker round-trips to score a
    few thousand pairs — the r12 ann_index_persist 2.04× flag), while
    the broadcast-join + _cosine fold is output-bounded. The paths are
    BIT-IDENTICAL by construction (the kernel's _seq_dots accumulation
    replicates the JVM fold exactly; the callers' shared final window
    applies one total order to either candidate set), so the dispatch
    can never change results — tests/test_units.py asserts kernel ==
    expression cosines on real embeddings."""
    if n_members is not None and n_members <= _IVF_SERVE_EXPR_MAX:
        return (
            asgn.join(F.broadcast(probes), "cid")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                _cosine(F.col("qv"), F.col("v")).alias("cos"),
            )
        )
    frag = F.pmod(F.xxhash64("vec_id"), F.lit(_IVF_SEARCH_FRAGS)).cast("int")
    mem = asgn.select(
        "cid",
        (F.col(frag_col) if frag_col else frag).alias("_f"),
        "vec_id",
        "v",
    )
    pr = probes.withColumn(
        "_f",
        F.explode(F.array(*[F.lit(i) for i in range(_IVF_SEARCH_FRAGS)])),
    ).select("cid", "_f", "query_id", "qv")
    return (
        mem.groupBy("cid", "_f")
        .cogroup(pr.groupBy("cid", "_f"))
        .applyInPandas(
            lambda left, right: _probe_topk_kernel(left, right, k=k),
            "query_id bigint, vec_id bigint, cos double",
        )
    )


@register(
    "ann_ivf",
    oracle=f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (
            SELECT vec_id AS cid, v AS cv FROM v ORDER BY vec_id LIMIT {N_CELLS}
        ),
        dist AS (
            SELECT a.vec_id, a.v, c.cid,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.v, c.cv)
                                / (sqrt(list_dot_product(a.v, a.v))
                                   * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                                c.cid ASC) AS rn
            FROM v a CROSS JOIN cent c
        ),
        asgn AS (SELECT vec_id, v, cid FROM dist WHERE rn = 1),
        probes AS (
            SELECT vec_id AS query_id, v AS qv, cid
            FROM dist WHERE rn <= {N_PROBE} AND vec_id % 100 = 0
        ),
        scored AS (
            SELECT p.query_id, b.vec_id,
                   list_dot_product(p.qv, b.v)
                   / (sqrt(list_dot_product(p.qv, p.qv))
                      * sqrt(list_dot_product(b.v, b.v))) AS cos
            FROM probes p JOIN asgn b ON p.cid = b.cid AND p.query_id <> b.vec_id
        )
        SELECT query_id, vec_id, round(cos, 6) AS cosine, rn AS rank
        FROM (
            SELECT query_id, vec_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, vec_id ASC) AS rn
            FROM scored
        )
        WHERE rn <= 10
    """,
    doc="Approximate NN, IVF flavor: a deterministic coarse quantizer "
        f"(the {N_CELLS} lowest-vec_id vectors act as centroids) assigns "
        "every vector to its nearest cell; queries (vec_id % 100 = 0) probe "
        f"their {N_PROBE} nearest cells and rank candidates by exact cosine. "
        "The data-derived-centroid analog of ann_lsh's hyperplane buckets.",
    scale_notes="The IVF scale path: centroids are a broadcast-size table "
                "(k-means-refined offline at real scale), assignment is one "
                "broadcast join + map-side argmax, and search shuffles only "
                "on cell id — each task scans nprobe/k of the corpus. "
                "Recall/latency tunes via N_CELLS x N_PROBE without "
                "re-sharding the corpus.",
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    em = fan_out(load(spark, sf_dir, "embeddings"), spark).select("vec_id", _dvec("embedding").alias("v"))
    cent = (
        em.orderBy("vec_id")
        .limit(N_CELLS)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    # One centroid-assignment pass (N_CELLS cosines per vector), pruned to
    # the probe depth and materialized: this IS the IVF index build — its
    # two consumers (cell assignment, query probes) otherwise each re-ran
    # the broadcast crossJoin, and the plan scanned embeddings 4 times.
    # At 100 TB the persisted index would carry (vec_id, cid) only and
    # re-join vectors by id; locally the vectors ride along.
    # Probe ranking runs MAP-SIDE (r12): sort the per-vector
    # (−cos, cid) struct array — ascending struct order IS the old
    # window's (cos DESC, cid ASC) — and explode the N_PROBE head;
    # the former crossJoin + row_number shuffled n × N_CELLS
    # vector-carrying rows, the exchange that dominated the 64× probe.
    cent_arr = cent.agg(
        F.collect_list(F.struct("cid", "cv")).alias("_cents")
    )
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda s: F.struct(
                    (-_cosine(F.col("v"), s["cv"])).alias("negcos"),
                    s["cid"].alias("cid"),
                ),
            )
        ),
        1,
        N_PROBE,
    )
    dist = (
        em.crossJoin(F.broadcast(cent_arr))
        .select("vec_id", "v", F.posexplode(ranked).alias("_p", "_cell"))
        .select(
            "vec_id",
            "v",
            F.col("_cell.cid").alias("cid"),
            (F.col("_p") + 1).alias("rn"),
        )
        .transform(materialize)
    )
    asgn = dist.filter(F.col("rn") == 1).select("vec_id", "v", "cid")
    probes = (
        dist.filter((F.col("rn") <= N_PROBE) & (F.col("vec_id") % 100 == 0))
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cid")
    )
    scored = _ivf_probe_search(asgn, probes)
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"), "rank")
    )


# Same kernel/fallback thresholds as llm_quality's semdedup family
# (defined locally — llm_quality imports from this module, so importing
# back would be circular).
_EMB_KERNEL_CAP = 4096
_EMB_GEMM_BLOCK = 1024
_EMB_TAU = 0.3


def _embdedup_bucket_kernel(pdf):
    """One LSH bucket: emit EVERY qualifying ordered pair
    (vec_a < vec_b, cos > tau) with its rounded cosine — unlike the
    semdedup winner kernels, this key's output IS the pair list.
    Blocked Gram products (peak memory B*m); only the qualifying
    (id, id, cos) rows leave the worker."""
    import numpy as np
    import pandas as pd

    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    m = len(ids)
    empty = _empty_frame(
        (("vec_a", "int64"), ("vec_b", "int64"), ("cosine", "float64"))
    )
    if m < 2:
        return empty
    X = np.asarray(
        [np.asarray(x, dtype=np.float64) for x in pdf["v"].iloc[order]]
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        Xn = X / np.sqrt((X * X).sum(axis=1))[:, None]
    out_a, out_b, out_c = [], [], []
    for i0 in range(1, m, _EMB_GEMM_BLOCK):
        i1 = min(i0 + _EMB_GEMM_BLOCK, m)
        g = Xn[i0:i1] @ Xn[:i1].T
        col = np.arange(i1)
        with np.errstate(invalid="ignore"):
            qual = (g > _EMB_TAU) & (
                col[None, :] < np.arange(i0, i1)[:, None]
            )
        ii, jj = np.nonzero(qual)
        if len(ii):
            out_a.append(ids[jj])
            out_b.append(ids[ii + i0])
            out_c.append(g[ii, jj])
    if not out_a:
        return empty
    c = np.concatenate(out_c)
    return pd.DataFrame(
        {
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "cosine": np.floor(c * 1e6 + 0.5) / 1e6,
        }
    )


@register(
    "embedding_dedup",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {_lsh_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
            FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({_COS_SQL}, 6) AS cosine
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_COS_SQL} > 0.3
    """,
    doc="Embedding-cosine near-dup pairs (cos > 0.3), LSH-blocked so only "
        "same-bucket pairs are compared. Plane count derives from corpus "
        "cardinality (planes_for_corpus) so bucket sizes stay bounded as "
        "the corpus grows; the oracle's static 8-plane expression is the "
        "derived count at every oracle scale.",
    scale_notes="Same blocking story as minhash_lsh: quadratic work is "
                "confined to buckets; the shuffle key is the bucket id. "
                "planes_for_corpus targets ~1k rows/bucket, so per-bucket "
                "pair work and max parallelism both track corpus size. "
                "Pair SCORING is vectorized since r11 (the 32x probe on "
                "the replica corpus — every copy of a vector lands in "
                "the SAME bucket, the worst correlated-corpus case — "
                "measured the exploded self-join at 119.7s, exponent "
                "1.33): buckets up to 4096 members run one Arrow kernel "
                "per bucket (blocked Gram products; only the qualifying "
                "(id, id, cos) rows leave the worker, never pair rows "
                "carrying two vectors) — re-measured 3.6s, exponent "
                "0.08. Hotter buckets fall back to the "
                "fragment-replicate salted self-join so no task owns an "
                "unbounded b^2. The count() is a planning-time scalar — "
                "on a real deployment it comes from table stats, not a "
                "scan.",
)
def embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pubsub2bq_spark.operators.llm_dedup import _salted_self_join

    corpus = load(spark, sf_dir, "embeddings")
    n_planes = planes_for_corpus(corpus.count())
    em = fan_out(corpus, spark).select(
        "vec_id", _dvec("embedding").alias("v")
    ).withColumn("bucket", lsh_bucket(F.col("v"), n_planes)).transform(materialize)
    # ^ one bucketing pass (n_planes dot products/vector) feeds both
    # the kernel groups and the hot-bucket fallback sides.
    counts = em.groupBy("bucket").agg(F.count(F.lit(1)).alias("_n"))
    hot_buckets = (
        counts.filter(F.col("_n") > _EMB_KERNEL_CAP)
        .select("bucket")
        .withColumn("_hot", F.lit(True))
        .transform(materialize)
    )
    tagged = em.join(F.broadcast(hot_buckets), ["bucket"], "left")
    dense = (
        tagged.filter(F.col("_hot").isNull())
        .select("bucket", "vec_id", "v")
        .groupBy("bucket")
        .applyInPandas(
            _embdedup_bucket_kernel,
            "vec_a bigint, vec_b bigint, cosine double",
        )
    )
    hot = tagged.filter(F.col("_hot").isNotNull()).select(
        "bucket", "vec_id", "v"
    )
    pr = _salted_self_join(hot, ["bucket"], id_col="vec_id")
    cos = _cosine(F.col("v_a"), F.col("v_b"))
    hot_out = (
        pr.filter(cos > 0.3)
        .select(
            F.col("vec_id_a").alias("vec_a"),
            F.col("vec_id_b").alias("vec_b"),
            F.round(cos, 6).alias("cosine"),
        )
    )
    return dense.unionByName(hot_out)


@register(
    "embedding_centroid",
    oracle="""
        SELECT label, i AS dim_pos, round(avg(x), 6) AS c
        FROM (
            SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
                   generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i
            FROM embeddings
        )
        GROUP BY label, i
    """,
    doc="Per-label embedding centroids (element-wise mean), emitted as "
        "(label, dim_pos, value) rows — the k-means-style statistic that "
        "trains an IVF coarse quantizer or summarizes a labeled corpus.",
    scale_notes="posexplode is map-side (64 rows per vector, no state); "
                "the aggregate partial-combines before a shuffle keyed on "
                "(label, dim) whose cardinality is labels x 64 — "
                "independent of corpus size. This is how to reduce a "
                "100 TB vector column to a KB-scale model artifact in one "
                "pass with no driver-side math.",
)
def embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    return (
        em.select("label", F.posexplode(_dvec("embedding")).alias("i", "x"))
        .groupBy("label", (F.col("i") + 1).alias("dim_pos"))
        .agg(F.round(F.avg("x"), 6).alias("c"))
    )


@register(
    "embedding_quantize",
    oracle="""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ),
        scaled AS (
            SELECT vec_id, e,
                   list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
            FROM v
        )
        SELECT vec_id,
               round(scale, 6) AS scale,
               array_to_string(list_transform(e, x ->
                   CAST(CASE WHEN scale = 0 THEN 0
                             ELSE floor(x / scale + 0.5) END AS INTEGER)), ',')
                                                             AS codes,
               round(CASE WHEN scale = 0 THEN 0.0
                          ELSE list_max(list_transform(e, x ->
                              abs(x - floor(x / scale + 0.5) * scale)))
                     END, 6)                                 AS max_err
        FROM scaled
    """,
    doc="Per-vector int8 quantization: symmetric max-abs scaling to "
        "[-127,127] integer codes plus the max reconstruction error — the "
        "4x memory/bandwidth reduction that makes a 100 TB embedding "
        "column fit an ANN serving tier. floor(x+0.5) rounding keeps the "
        "codes bit-identical across engines (no banker's-rounding drift); "
        "codes emit as a joined string for order-exact parity.",
    scale_notes="Map-only: scale, codes, and error are one projection per "
                "row over higher-order functions — no shuffle, no Python. "
                "Product quantization (segmented codebooks) would follow "
                "the same plan shape with a broadcast codebook join.",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load(spark, sf_dir, "embeddings"), spark)
    v = em.select("vec_id", _dvec("embedding").alias("e"))
    # Internal name `s_raw` ≠ output alias `scale`: reusing the name would
    # let the select below rebind the lambda's scale reference to the
    # ROUNDED output column (observed: codes computed off round(scale,6),
    # flipping floor() at near-half boundaries vs the oracle).
    scaled = v.select(
        "vec_id", "e",
        (F.array_max(F.transform("e", lambda x: F.abs(x))) / 127.0).alias("s_raw"),
    )
    code = lambda x: F.floor(x / F.col("s_raw") + 0.5)  # noqa: E731
    codes = F.transform(
        "e",
        lambda x: F.when(F.col("s_raw") == 0, F.lit(0))
        .otherwise(code(x))
        .cast("int"),
    )
    max_err = F.when(F.col("s_raw") == 0, F.lit(0.0)).otherwise(
        F.array_max(F.transform("e", lambda x: F.abs(x - code(x) * F.col("s_raw"))))
    )
    return scaled.select(
        "vec_id",
        F.round("s_raw", 6).alias("scale"),
        F.concat_ws(",", codes).alias("codes"),
        F.round(max_err, 6).alias("max_err"),
    )


@register(
    "ann_recall",
    # Composed verbatim from the three registered oracles: each becomes a
    # derived table (DuckDB allows WITH inside a subquery), then recall@10
    # counts how many exact top-10 rows each approximate method recovered.
    oracle=None,  # filled in immediately below — needs the other keys registered
    doc="Recall@10 of every approximate index (LSH multiprobe, stub-"
        "centroid IVF, k-means-refined IVF, product quantization) "
        "against the brute-force "
        "baseline, per method: the quality measurement that justifies "
        "shipping an ANN index at all — and that shows the k-means "
        "refinement lifting IVF recall at the same probe budget. "
        "avg/min recall over the query set plus query count.",
    scale_notes="Each branch reuses the ANN plans unchanged; the recall "
                "join is keyed on (query_id, vec_id) — query-set-sized, "
                "negligible next to the searches themselves. In production "
                "this runs on a sampled query set as a continuous index-"
                "quality monitor.",
)
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = similarity_topk(spark, sf_dir).select("query_id", "vec_id")

    def recall_of(approx: DataFrame, method: str) -> DataFrame:
        hits = exact.join(
            approx.select("query_id", "vec_id").withColumn("hit", F.lit(1)),
            ["query_id", "vec_id"],
            "left",
        )
        return hits.groupBy("query_id").agg(
            (F.count("hit") / F.lit(10.0)).alias("recall")
        ).select(F.lit(method).alias("method"), "query_id", "recall")

    from pubsub2bq_spark.operators.ml_ops import ann_ivf_kmeans

    per_q = (
        recall_of(ann_lsh(spark, sf_dir), "lsh")
        .unionByName(recall_of(ann_ivf(spark, sf_dir), "ivf"))
        .unionByName(recall_of(ann_ivf_kmeans(spark, sf_dir), "ivf_kmeans"))
        .unionByName(recall_of(ann_pq(spark, sf_dir), "pq"))
        .unionByName(recall_of(ann_ivfpq(spark, sf_dir), "ivfpq"))
    )
    return per_q.groupBy("method").agg(
        F.round(F.avg("recall"), 6).alias("avg_recall"),
        F.round(F.min("recall"), 6).alias("min_recall"),
        F.count(F.lit(1)).alias("n_queries"),
    )


_ANN_METHODS = (("lsh", "ann_lsh"), ("ivf", "ann_ivf"),
                ("ivf_kmeans", "ann_ivf_kmeans"), ("pq", "ann_pq"),
                ("ivfpq", "ann_ivfpq"))


def refresh_ann_recall_oracle() -> None:
    """(Re)compose ann_recall's oracle from whichever ANN-method oracles
    are registered so far. Called from the bottom of THIS module and of
    ml_ops (which contributes ann_ivf_kmeans): import order between the
    two is driven by who gets imported first, and each bottom-call sees
    every key registered up to that point — the last call sees all of
    them, whichever order the modules load in."""
    from pubsub2bq_spark.registry import _REGISTRY

    exact = _REGISTRY["similarity_topk"].oracle
    branch = """
        SELECT '{m}' AS method, e.query_id,
               CAST(count(a.vec_id) AS DOUBLE) / 10.0 AS recall
        FROM ({exact}) e
        LEFT JOIN ({approx}) a
          ON e.query_id = a.query_id AND e.vec_id = a.vec_id
        GROUP BY e.query_id
    """
    branches = " UNION ALL ".join(
        branch.format(m=m, exact=exact, approx=_REGISTRY[k].oracle)
        for m, k in _ANN_METHODS
        if k in _REGISTRY
    )
    _REGISTRY["ann_recall"].oracle = f"""
        SELECT method, round(avg(recall), 6) AS avg_recall,
               round(min(recall), 6) AS min_recall,
               count(*) AS n_queries
        FROM ({branches})
        GROUP BY method
    """


refresh_ann_recall_oracle()


RAG_K = 3          # retrieved documents per query
RAG_SNIPPET = 120  # context characters taken per retrieved doc


def _rag_oracle() -> str:
    from pubsub2bq_spark.registry import _REGISTRY

    topk = _REGISTRY["similarity_topk"].oracle
    return f"""
        WITH hits AS (
            SELECT * FROM ({topk}) WHERE rank <= {RAG_K}
        )
        SELECT h.query_id,
               count(*) AS n_ctx_docs,
               string_agg(substr(d.text, 1, {RAG_SNIPPET}), ' | '
                          ORDER BY h.rank) AS context,
               CAST(sum(length(substr(d.text, 1, {RAG_SNIPPET})))
                        + 3 * (count(*) - 1) AS BIGINT) AS ctx_chars
        FROM hits h JOIN documents d ON h.vec_id = d.doc_id
        GROUP BY h.query_id
    """


@register(
    "rag_retrieve",
    oracle=None,  # composed from similarity_topk's oracle below
    doc=f"Composed retrieval pipeline (RAG shape): top-{RAG_K} documents "
        "per query by embedding cosine (the similarity_topk index, "
        "vec_id = doc_id), joined back to document text and packed into "
        f"one rank-ordered context string ({RAG_SNIPPET}-char snippets, "
        "' | ' separators) with a char budget — the retrieve-and-"
        "assemble step between an ANN index and a generation prompt.",
    scale_notes="The ranked hit list is queries x k rows — it broadcasts "
                "into the documents join, so full document text is "
                "touched only for retrieved ids (never scanned into a "
                "shuffle). Context assembly groups on query_id with the "
                "rank riding along in a sorted struct array; at serving "
                "scale the same plan reads text via id-keyed point "
                "lookups against the clustered/bucketed layout "
                "(clustered_write), and the ANN index replaces the "
                "exact scan (ann_ivf_kmeans).",
)
def rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = similarity_topk(spark, sf_dir).filter(F.col("rank") <= RAG_K)
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, RAG_SNIPPET).alias("snippet")
    )
    joined = d.join(
        F.broadcast(hits), d.doc_id == hits.vec_id
    ).select("query_id", "rank", "snippet")
    packed = F.transform(
        F.array_sort(F.collect_list(F.struct("rank", "snippet"))),
        lambda s: s.getField("snippet"),
    )
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_ctx_docs"),
        F.array_join(packed, " | ").alias("context"),
        (
            F.sum(F.length("snippet")) + 3 * (F.count(F.lit(1)) - 1)
        ).alias("ctx_chars"),
    )


def refresh_rag_oracle() -> None:
    from pubsub2bq_spark.registry import _REGISTRY

    _REGISTRY["rag_retrieve"].oracle = _rag_oracle()


refresh_rag_oracle()


# Product quantization: M subspaces x SUB dims; K centroids per subspace
# taken from the K lowest vec_ids' subvectors (deterministic stand-in for
# offline per-subspace k-means, same convention as ann_ivf's coarse cells).
PQ_M = 16
PQ_SUB = 4   # PQ_M * PQ_SUB == DIM
PQ_K = 16
PQ_TOPK = 10

_PQ_SUBS = f"""
    SELECT vec_id, t.m AS m,
           list_slice(v, t.m * {PQ_SUB} + 1, t.m * {PQ_SUB} + {PQ_SUB}) AS sub
    FROM v, unnest(range(0, {PQ_M})) AS t(m)
"""


@register(
    "ann_pq",
    oracle=f"""
        WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS r FROM embeddings),
        v AS (
            SELECT vec_id,
                   list_transform(r, x -> x / sqrt(list_dot_product(r, r))) AS v
            FROM raw
        ),
        cb AS (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT {PQ_K}),
        cbs AS (
            SELECT vec_id AS cid, t.m AS m,
                   list_slice(v, t.m * {PQ_SUB} + 1, t.m * {PQ_SUB} + {PQ_SUB}) AS csub
            FROM cb, unnest(range(0, {PQ_M})) AS t(m)
        ),
        dbs AS ({_PQ_SUBS}),
        dist0 AS (
            SELECT d.vec_id, d.m, c.cid,
                   list_dot_product(d.sub, d.sub)
                   - 2 * list_dot_product(d.sub, c.csub)
                   + list_dot_product(c.csub, c.csub) AS d2
            FROM dbs d JOIN cbs c USING (m)
        ),
        codes AS (
            SELECT vec_id, m, cid FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                             ORDER BY d2 ASC, cid ASC) AS rn
                FROM dist0
            ) WHERE rn = 1
        ),
        recon AS (
            SELECT k.vec_id, flatten(list(c.csub ORDER BY k.m)) AS r
            FROM codes k JOIN cbs c ON k.m = c.m AND k.cid = c.cid
            GROUP BY k.vec_id
        ),
        q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id % 100 = 0),
        scored AS (
            SELECT q.query_id, r.vec_id,
                   list_dot_product(q.qv, q.qv)
                   - 2 * list_dot_product(q.qv, r.r)
                   + list_dot_product(r.r, r.r) AS adc
            FROM recon r CROSS JOIN q
            WHERE r.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, round(adc, 6) AS adc_dist, rank FROM (
            SELECT query_id, vec_id, adc,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY adc ASC, vec_id ASC) AS INT)
                       AS rank
            FROM scored
        ) WHERE rank <= {PQ_TOPK}
    """,
    doc=f"Product-quantization ANN (Jegou et al., the memory-compression "
        f"path): unit-normalized vectors split into {PQ_M} subspaces of "
        f"{PQ_SUB} dims, each subvector coded as its nearest of {PQ_K} "
        f"per-subspace centroids (deterministic codebook from the {PQ_K} "
        "lowest vec_ids, the ann_ivf convention), queries ranked by "
        "asymmetric distance — exact query vs reconstructed database "
        "vector; on unit vectors L2 order == cosine order, so ann_recall "
        "measures it against the same metric as every other method "
        "(0.36 recall@10 at sf0.01 with these untrained codebooks — "
        "near-uniform vectors are PQ's hardest case; k-means-refined "
        "codebooks are the production lift, as ann_ivf_kmeans "
        "demonstrates for IVF). Computed via the reconstruction identity "
        "sum_m ||q_m - c_code||^2 = ||q - concat(c_code)||^2, which "
        "keeps the arithmetic a single index-ordered fold (engine-exact) "
        "instead of a cross-subspace float sum.",
    scale_notes=f"PQ stores {PQ_M} single-byte codes per vector instead of "
                f"{DIM} floats — ~32x memory — so the ADC scan reads codes, "
                "not vectors; the codebook (M x K subvectors) broadcasts "
                "anywhere. Production pairs this with IVF (probe cells, "
                "then ADC within) and a per-query M x K lookup table "
                "instead of reconstruction — algebraically the same "
                "distance, O(M) adds per candidate. Codebooks k-means-"
                "trained offline on a sample; encoding is one broadcast "
                "join + per-subspace argmin, map-side.",
)
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    raw = fan_out(load(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", _dvec("embedding").alias("r")
    )
    # Unit-normalize first: on unit vectors, L2 ADC order == cosine order,
    # so PQ recall is measured against the same metric as the exact
    # baseline (and the normalized corpus is what a cosine ANN serves).
    em = raw.select(
        "vec_id",
        F.expr("transform(r, x -> x / sqrt(aggregate(zip_with(r, r, (a, b) -> a * b), "
               "cast(0.0 as double), (acc, x) -> acc + x)))").alias("v"),
    )
    sub_arr = F.expr(
        f"transform(sequence(0, {PQ_M - 1}), m -> slice(v, m * {PQ_SUB} + 1, {PQ_SUB}))"
    )
    cbs = (
        em.orderBy("vec_id")
        .limit(PQ_K)
        .select(F.col("vec_id").alias("cid"), F.posexplode(sub_arr).alias("m", "csub"))
    )
    dbs = em.select("vec_id", F.posexplode(sub_arr).alias("m", "sub"))
    # Per-subspace code assignment map-side (r12): broadcast the PQ_M-row
    # per-subspace codebook ARRAY and argmin (d2, cid) structs — the
    # former row-level cbs join + window shuffled n × PQ_M × PQ_K rows.
    cbs_by_m = cbs.groupBy("m").agg(
        F.collect_list(F.struct("cid", "csub")).alias("_cb")
    )
    best_code = F.array_min(
        F.transform(
            F.col("_cb"),
            lambda s: F.struct(
                (
                    _dot(F.col("sub"), F.col("sub"))
                    - 2 * _dot(F.col("sub"), s["csub"])
                    + _dot(s["csub"], s["csub"])
                ).alias("d2"),
                s["cid"].alias("cid"),
            ),
        )
    )
    codes = (
        dbs.join(F.broadcast(cbs_by_m), "m")
        .select("vec_id", "m", best_code["cid"].alias("cid"))
    )
    recon = (
        codes.join(F.broadcast(cbs), ["m", "cid"])
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.expr("transform(array_sort(collect_list(struct(m, csub))), s -> s.csub)")
            ).alias("r")
        )
    )
    q = em.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    adc = (
        _dot(F.col("qv"), F.col("qv"))
        - 2 * _dot(F.col("qv"), F.col("r"))
        + _dot(F.col("r"), F.col("r"))
    )
    scored = (
        recon.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            "query_id", "vec_id", F.round("adc", 6).alias("adc_dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


@register(
    "ann_ivfpq",
    oracle=f"""
        WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS r FROM embeddings),
        v AS (
            SELECT vec_id,
                   list_transform(r, x -> x / sqrt(list_dot_product(r, r))) AS v
            FROM raw
        ),
        cent AS (
            SELECT vec_id AS cid, v AS cv FROM v ORDER BY vec_id LIMIT {N_CELLS}
        ),
        dist AS (
            SELECT a.vec_id, a.v, c.cid, c.cv,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.v, c.cv)
                                / (sqrt(list_dot_product(a.v, a.v))
                                   * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                                c.cid ASC) AS rn
            FROM v a CROSS JOIN cent c
        ),
        res AS (
            SELECT vec_id, cid,
                   list_transform(list_zip(v, cv), s -> s[1] - s[2]) AS r
            FROM dist WHERE rn = 1
        ),
        cb AS (
            -- lowest NON-CENTROID vec_ids: a centroid's residual is the
            -- zero vector (it is its own nearest cell), so a codebook
            -- drawn from the {N_CELLS} lowest ids would be all-zero and
            -- every reconstruction would collapse to the cell center
            SELECT vec_id AS kid, r FROM res
            WHERE vec_id NOT IN (SELECT cid FROM cent)
            ORDER BY vec_id LIMIT {PQ_K}
        ),
        cbs AS (
            SELECT kid, t.m AS m,
                   list_slice(r, t.m * {PQ_SUB} + 1, t.m * {PQ_SUB} + {PQ_SUB}) AS csub
            FROM cb, unnest(range(0, {PQ_M})) AS t(m)
        ),
        dbs AS (
            SELECT vec_id, t.m AS m,
                   list_slice(r, t.m * {PQ_SUB} + 1, t.m * {PQ_SUB} + {PQ_SUB}) AS sub
            FROM res, unnest(range(0, {PQ_M})) AS t(m)
        ),
        dist0 AS (
            SELECT d.vec_id, d.m, c.kid,
                   list_dot_product(d.sub, d.sub)
                   - 2 * list_dot_product(d.sub, c.csub)
                   + list_dot_product(c.csub, c.csub) AS d2
            FROM dbs d JOIN cbs c USING (m)
        ),
        codes AS (
            SELECT vec_id, m, kid FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                             ORDER BY d2 ASC, kid ASC) AS rn
                FROM dist0
            ) WHERE rn = 1
        ),
        recon AS (
            SELECT k.vec_id, flatten(list(c.csub ORDER BY k.m)) AS rhat
            FROM codes k JOIN cbs c ON k.m = c.m AND k.kid = c.kid
            GROUP BY k.vec_id
        ),
        probes AS (
            SELECT d.vec_id AS query_id,
                   list_transform(list_zip(d.v, d.cv), s -> s[1] - s[2]) AS qr,
                   d.cid
            FROM dist d WHERE d.rn <= {N_PROBE} AND d.vec_id % 100 = 0
        ),
        cand AS (SELECT a.vec_id, a.cid, r.rhat
                 FROM res a JOIN recon r USING (vec_id)),
        scored AS (
            SELECT p.query_id, b.vec_id,
                   list_dot_product(p.qr, p.qr)
                   - 2 * list_dot_product(p.qr, b.rhat)
                   + list_dot_product(b.rhat, b.rhat) AS adc
            FROM probes p JOIN cand b
              ON p.cid = b.cid AND p.query_id <> b.vec_id
        )
        SELECT query_id, vec_id, round(adc, 6) AS adc_dist, rank FROM (
            SELECT query_id, vec_id, adc,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY adc ASC, vec_id ASC) AS INT)
                       AS rank
            FROM scored
        ) WHERE rank <= {PQ_TOPK}
    """,
    doc=f"IVF-PQ ANN (Jegou et al. — the FAISS-default combination and "
        "the actual 100 TB serving layout): ann_ivf's coarse quantizer "
        f"(the {N_CELLS} lowest-vec_id unit vectors) routes every vector "
        "to its nearest cell, the RESIDUAL v − centroid is product-"
        f"quantized ({PQ_M} subspaces × {PQ_K} codes, deterministic "
        f"codebook from the {PQ_K} lowest vec_ids' residuals), and "
        f"queries probe their {N_PROBE} nearest cells ranking candidates "
        "by asymmetric distance between the QUERY RESIDUAL (q − probed "
        "centroid) and the reconstructed database residual — "
        "||q − (c + r̂)||² = ||(q − c) − r̂||², the standard per-cell "
        "query-residual identity. Residual encoding is what makes PQ "
        "codes tight: within a cell the residual spread is a fraction "
        "of the full-space spread, so the same code budget quantizes "
        "finer than flat ann_pq. Every distance is a single index-"
        "ordered fold on both engines (engine-exact, ann_pq's "
        "discipline).",
    scale_notes=f"THE production ANN layout: {PQ_M} one-byte codes + one "
                "cell id per vector (~32x memory vs floats) partitioned "
                "by cell id on disk, centroids + residual codebook "
                "broadcast-size. Search touches nprobe/k of the corpus "
                "and reads codes, never vectors; the ADC per candidate "
                "is O(M) adds off a per-(query, cell) lookup table "
                "(here the equivalent single-fold dot, engine-exact). "
                "Assignment + encoding are one broadcast join + "
                "map-side argmin each. Recall tunes via N_CELLS x "
                "N_PROBE x PQ_K without re-sharding; k-means-refined "
                "codebooks (ann_ivf_kmeans's lift) are the offline "
                "training step at real scale.",
)
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    raw = fan_out(load(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", _dvec("embedding").alias("r")
    )
    em = raw.select(
        "vec_id",
        F.expr(
            "transform(r, x -> x / sqrt(aggregate(zip_with(r, r, (a, b) -> a * b), "
            "cast(0.0 as double), (acc, x) -> acc + x)))"
        ).alias("v"),
    )
    cent = (
        em.orderBy("vec_id")
        .limit(N_CELLS)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    # Map-side probe ranking (r12, same shape as ann_ivf): ascending
    # (−cos, cid) struct sort == the old window's (cos DESC, cid ASC);
    # cv rides in the struct (cid is unique, so it never participates
    # in the ordering) because both consumers need the residual v − cv.
    cent_arr = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("_cents"))
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda s: F.struct(
                    (-_cosine(F.col("v"), s["cv"])).alias("negcos"),
                    s["cid"].alias("cid"),
                    s["cv"].alias("cv"),
                ),
            )
        ),
        1,
        N_PROBE,
    )
    dist = (
        em.crossJoin(F.broadcast(cent_arr))
        .select("vec_id", "v", F.posexplode(ranked).alias("_p", "_cell"))
        .select(
            "vec_id",
            "v",
            F.col("_cell.cid").alias("cid"),
            F.col("_cell.cv").alias("cv"),
            (F.col("_p") + 1).alias("rn"),
        )
    )
    res = dist.filter(F.col("rn") == 1).select(
        "vec_id",
        "cid",
        F.zip_with("v", "cv", lambda x, y: x - y).alias("r"),
    )
    res = materialize(res)  # assignment + residuals feed codebook, codes, search
    sub_arr = F.expr(
        f"transform(sequence(0, {PQ_M - 1}), m -> slice(r, m * {PQ_SUB} + 1, {PQ_SUB}))"
    )
    # Lowest NON-CENTROID ids: a centroid's residual is the zero vector
    # (it is its own nearest cell), so a codebook from the raw lowest
    # ids would be all-zero (the 0.04-recall bug this comment records).
    cbs = (
        res.join(
            cent.select(F.col("cid").alias("vec_id")), "vec_id", "left_anti"
        )
        .orderBy("vec_id")
        .limit(PQ_K)
        .select(F.col("vec_id").alias("kid"), F.posexplode(sub_arr).alias("m", "csub"))
    )
    dbs = res.select("vec_id", F.posexplode(sub_arr).alias("m", "sub"))
    # Per-subspace code assignment map-side (r12): join the PQ_M-row
    # per-subspace codebook ARRAY and argmin (d2, kid) structs — the
    # former row-level cbs join + window shuffled n × PQ_M × PQ_K rows.
    cbs_by_m = cbs.groupBy("m").agg(
        F.collect_list(F.struct("kid", "csub")).alias("_cb")
    )
    best_code = F.array_min(
        F.transform(
            F.col("_cb"),
            lambda s: F.struct(
                (
                    _dot(F.col("sub"), F.col("sub"))
                    - 2 * _dot(F.col("sub"), s["csub"])
                    + _dot(s["csub"], s["csub"])
                ).alias("d2"),
                s["kid"].alias("kid"),
            ),
        )
    )
    codes = (
        dbs.join(F.broadcast(cbs_by_m), "m")
        .select("vec_id", "m", best_code["kid"].alias("kid"))
    )
    recon = (
        codes.join(F.broadcast(cbs), ["m", "kid"])
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.expr(
                    "transform(array_sort(collect_list(struct(m, csub))), s -> s.csub)"
                )
            ).alias("rhat")
        )
    )
    probes = dist.filter(
        (F.col("rn") <= N_PROBE) & (F.col("vec_id") % 100 == 0)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.zip_with("v", "cv", lambda x, y: x - y).alias("qr"),
        "cid",
    )
    cand = res.select("vec_id", "cid").join(recon, "vec_id")
    adc = (
        _dot(F.col("qr"), F.col("qr"))
        - 2 * _dot(F.col("qr"), F.col("rhat"))
        + _dot(F.col("rhat"), F.col("rhat"))
    )
    scored = (
        cand.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            "query_id", "vec_id", F.round("adc", 6).alias("adc_dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ann_pq/ann_ivfpq register below the first refresh call; recompose with
# them included.
refresh_ann_recall_oracle()


# MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998):
# score(d) = LAMBDA*sim(q,d) - MU*max_{s in selected} sim(d,s). MU is a
# literal (not 1-LAMBDA) so both engines evaluate the identical double.
MMR_LAMBDA = 0.7
MMR_MU = 0.3
MMR_POOL = 16  # relevance candidate pool per query
MMR_K = 5      # diversified picks per query


def _mmr_oracle() -> str:
    cos_cs = (
        "list_dot_product(c.v, s.v) / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(s.v, s.v)))"
    )
    steps = []
    for t in range(2, MMR_K + 1):
        prev = "sel1" if t == 2 else f"sel{t - 1}"
        steps.append(f"""
        m{t} AS (
            SELECT c.query_id, c.vec_id, c.v, c.cos_q,
                   max({cos_cs}) AS msim
            FROM cand c JOIN {prev} s ON s.query_id = c.query_id
            WHERE NOT EXISTS (
                SELECT 1 FROM {prev} x
                WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
            GROUP BY c.query_id, c.vec_id, c.v, c.cos_q
        ),
        p{t} AS (
            SELECT query_id, vec_id, v, cos_q, score, {t} AS rank FROM (
                SELECT query_id, vec_id, v, cos_q,
                       {MMR_LAMBDA}*cos_q - {MMR_MU}*msim AS score,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY {MMR_LAMBDA}*cos_q - {MMR_MU}*msim DESC,
                                    vec_id) AS rn
                FROM m{t}) WHERE rn = 1
        ),
        sel{t} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM p{t})""")
    return f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id % 100 = 0),
        scored AS (
            SELECT q.query_id, b.vec_id, b.v,
                   list_dot_product(q.qv, b.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(b.v, b.v))) AS cos_q
            FROM q JOIN v b ON b.vec_id <> q.query_id
        ),
        cand AS (
            SELECT query_id, vec_id, v, cos_q, rn FROM (
                SELECT query_id, vec_id, v, cos_q,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_q DESC, vec_id) AS rn
                FROM scored)
            WHERE rn <= {MMR_POOL}
        ),
        sel1 AS (
            SELECT query_id, vec_id, v, cos_q,
                   {MMR_LAMBDA}*cos_q AS score, 1 AS rank
            FROM cand WHERE rn = 1
        ),{",".join(steps)}
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
               round(score, 6) AS score
        FROM sel{MMR_K}
    """


@register(
    "mmr_diversify",
    oracle=_mmr_oracle(),
    doc=f"MMR result diversification (Carbonell & Goldstein 1998): from "
        f"each query's top-{MMR_POOL} cosine candidates, greedily pick "
        f"{MMR_K} results maximizing {MMR_LAMBDA}*sim(query,d) - "
        f"{MMR_MU}*max_sim(d, already-picked) — the standard "
        "redundancy-removal re-rank between retrieval and a RAG "
        "context window. The greedy recurrence is unrolled to fixed K "
        "in BOTH engines (DataFrame loop / CTE chain), every cosine is "
        "the same sequential fold, and MU is a literal (not 1-lambda) "
        "so scores are bit-identical.",
    scale_notes=f"The expensive stage is the relevance scan (same plan "
                "as similarity_topk: queries broadcast, corpus never "
                f"shuffles); MMR itself touches only the top-{MMR_POOL} "
                "pool per query — bounded candidate x selected joins "
                f"({MMR_POOL}x{MMR_K} rows/query), all broadcastable. "
                "Each greedy step is one anti-join + max-agg + "
                "row_number over per-query groups; K is a constant, so "
                "the added cost is K tiny stages regardless of corpus "
                "size. The pool is materialized once and feeds every "
                "step — the corpus scan never re-runs.",
)
def mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    em = fan_out(load(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", _dvec("embedding").alias("v")
    )
    q = em.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # Relevance pool via the shared fragment-parallel exact-top-k
    # kernel (r12, same shape as similarity_topk): per-fragment
    # top-MMR_POOL winners merge in a q×(frags·POOL)-row window, then
    # the pool's vectors rejoin map-side (the pool is broadcast-size;
    # the corpus never shuffles). Former shape pushed q·n scored rows
    # carrying full vectors through the window.
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_q").desc(), F.col("vec_id").asc()
    )
    pool = (
        _ivf_probe_search(
            em.withColumn("cid", F.lit(0)),
            q.withColumn("cid", F.lit(0)),
            k=MMR_POOL,
        )
        .withColumnRenamed("cos", "cos_q")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_POOL)
    )
    cand = (
        em.join(F.broadcast(pool), "vec_id")
        .select("query_id", "vec_id", "v", "cos_q", "rn")
        .transform(materialize)  # one corpus scan feeds all K greedy steps
    )
    sel = cand.filter(F.col("rn") == 1).select(
        "query_id",
        "vec_id",
        "v",
        "cos_q",
        (F.lit(MMR_LAMBDA) * F.col("cos_q")).alias("score"),
        F.lit(1).alias("rank"),
    )
    for t in range(2, MMR_K + 1):
        sel_slim = sel.select(
            "query_id", F.col("vec_id").alias("sel_id"), F.col("v").alias("sv")
        )
        rem = cand.join(
            sel.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti"
        )
        msim = (
            rem.join(F.broadcast(sel_slim), "query_id")
            .select(
                "query_id",
                "vec_id",
                "cos_q",
                _cosine(F.col("v"), F.col("sv")).alias("s"),
            )
            .groupBy("query_id", "vec_id", "cos_q")
            .agg(F.max("s").alias("msim"))
        )
        score = F.lit(MMR_LAMBDA) * F.col("cos_q") - F.lit(MMR_MU) * F.col("msim")
        wp = Window.partitionBy("query_id").orderBy(score.desc(), F.col("vec_id").asc())
        pick = (
            msim.withColumn("score", score)
            .withColumn("rn2", F.row_number().over(wp))
            .filter(F.col("rn2") == 1)
            .select("query_id", "vec_id", "score", F.lit(t).alias("rank"))
        )
        pick_v = pick.join(
            cand.select("query_id", "vec_id", "v", "cos_q"), ["query_id", "vec_id"]
        ).select("query_id", "vec_id", "v", "cos_q", "score", "rank")
        sel = materialize(sel.unionByName(pick_v))
    return sel.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("score", 6).alias("score"),
    )
