"""ML-adjacent operators: fixed-iteration Lloyd's k-means over
`embeddings`, per-group feature standardization, and truncated EWMA
smoothing of per-user event series.

k-means is the iterative-algorithm archetype (same family as
dedup_clusters' label propagation): tiny broadcast state (K x DIM
centroids) against a full-corpus scan per iteration. It also upgrades
the ann_ivf story — ann_ivf's deterministic centroid stub is documented
as "k-means-refined offline at real scale"; this IS that refinement,
expressed in the same engine.

All distance math goes through the same sequential-fold dot product as
llm_similarity (deterministic summation order, engine-portable)."""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pubsub2bq_spark.operators.llm_similarity import DIM, _dot, _dvec
from pubsub2bq_spark.registry import register
from pubsub2bq_spark.tables import _empty_frame, agg_first, fan_out, load, materialize


K_CLUSTERS = 8
# Truncated-EWMA parameters: weight (1-EWMA_ALPHA)^age over the most
# recent EWMA_SPAN observations per user (adjust=True convention:
# normalized by the sum of weights).
EWMA_ALPHA = 0.3
EWMA_SPAN = 50

_SQDIST_SQL = (
    "list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.c) "
    "+ list_dot_product(c.c, c.c)"
)

_KMEANS_ASSIGN_SQL = """
    SELECT vec_id, v, cid FROM (
        SELECT a.vec_id, a.v, c.cid,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {dist} ASC, c.cid ASC) AS rn
        FROM v a CROSS JOIN {cent} c
    ) WHERE rn = 1
"""

_KMEANS_RECOMPUTE_SQL = """
    SELECT cid, list(m ORDER BY dim) AS c FROM (
        SELECT cid, dim, avg(v[dim]) AS m
        FROM (SELECT cid, v, unnest(generate_series(1, {dim})) AS dim FROM {assigned})
        GROUP BY cid, dim
    ) GROUP BY cid
"""


def _init_centroids(v: DataFrame, k: int) -> DataFrame:
    """(cid, c) for the k lowest vec_ids: deterministic centroid init.
    The 0-based cid comes from a broadcast triangular self-join over the
    k-row limited relation (cid = count of smaller vec_ids) instead of a
    global row_number window — same result, no single-partition
    WindowExec in the plan."""
    head = v.orderBy("vec_id").limit(k)
    prior = head.select(F.col("vec_id").alias("pid"))
    ids = (
        head.select("vec_id")
        .join(F.broadcast(prior), F.col("pid") < F.col("vec_id"), "left")
        .groupBy("vec_id")
        .agg(F.count("pid").cast("int").alias("cid"))
    )
    return head.join(F.broadcast(ids), "vec_id").select(
        "cid", F.col("v").alias("c")
    )


def _sqdist(a, b):
    """|a|^2 - 2 a.b + |b|^2 — same three-fold formula as the oracle."""
    return _dot(a, a) - 2 * _dot(a, b) + _dot(b, b)


def _dot_sql(a: str, b: str) -> str:
    """_dot as Spark SQL text: the same sequential fold. The zero is
    written 0D because a bare 0.0 parses as DECIMAL(1,1)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _dists_sql(cells: str) -> str:
    """SQL for the per-vector array of struct(dist, cid) over a cell
    array of struct(cid, c) — ``cells`` is a column name or a literal
    (_cells_sql). Struct order IS (dist ASC, cid ASC), so array_min is
    the nearest cell with the window's tie-break and array_sort the
    probe ranking. One F.expr call builds what the Column API builds
    one lambda at a time; the fold and the (a² − 2ab) + b² tree are
    _sqdist's."""
    sq = f"{_dot_sql('v', 'v')} - 2 * {_dot_sql('v', 's.c')} + {_dot_sql('s.c', 's.c')}"
    return f"transform({cells}, s -> named_struct('dist', {sq}, 'cid', s.cid))"


def _rows_sql(rows: list[dict], fields: str) -> str:
    """Driver rows as ONE SQL constant of type array<struct<fields>>: a
    JSON string that from_json parses once, at constant folding.
    Written as an array(named_struct(...)) literal, 65 k-means cells
    cost the analyzer ~20x more driver time (0.7 s), and createDataFrame
    from a list runs its rows through a Python worker. json.dumps writes each
    double as its repr, which round-trips exactly."""
    return f"from_json('{json.dumps(rows)}', 'array<struct<{fields}>>')"


def _cells_sql(cells) -> str:
    """Driver-held cells [(id, vector)] as an array<struct<cid bigint,
    c array<double>>> constant — distance expressions over a bounded
    set carry it, so no broadcast job builds it."""
    return _rows_sql(
        [{"cid": i, "c": c} for i, c in cells], "cid:bigint,c:array<double>"
    )


def _cells_frame(spark: SparkSession, cells) -> DataFrame:
    """Driver-held cells as a local (cid bigint, c array<double>) frame."""
    return spark.sql(f"SELECT inline({_cells_sql(cells)})")


def _cent_array(cents: DataFrame, *cols: str) -> DataFrame:
    """ONE row holding the whole broadcast-size centroid relation as an
    array of structs — the shape that lets nearest-cell selection run
    as a map-side array expression instead of a crossJoin + row_number
    window (which shuffled n_vecs × k VECTOR-CARRYING rows; at the 64×
    probe that exchange, not the distance math, dominated every
    quantizer build — VERDICT r11 #4)."""
    return cents.agg(
        F.collect_list(F.struct(*[F.col(c) for c in cols])).alias("_cents")
    )


_ASSIGN_KERNEL_BUCKETS = 32  # vector buckets per kernel assignment pass
_IVF_INDEX_BUCKETS = 32      # on-disk buckets for the persisted IVF index
_KPP_KERNEL_MIN = 256  # centroid/candidate rows before the kernel path
# (the fixed-k callers — ann_ivf_kmeans's 65-candidate seeding, the
# 16-cell assigns — stay on the zero-shuffle map-side expression, which
# carries driver-held cells as a literal (_cells_sql); the
# corpus-scaled-k builds (hier, semdedup at probe scales) switch. Both
# paths produce bit-identical doubles — tests/test_units.py asserts the
# kernel against the expression path on real embeddings.)


def _seq_dots(x, m):
    """(x·x, m·m, x@m.T) with every accumulation SEQUENTIAL over the
    dimension axis — acc starts at 0.0 and adds products in index
    order, vectorized across rows/pairs. This replicates Spark's
    ``aggregate(zip_with(a, b, *), 0.0, +)`` fold (and DuckDB's
    list_dot_product) bit-for-bit, so a kernel built on it is
    hash-identical to the JVM expression path by CONSTRUCTION, not by
    fp luck — the property every other numpy shortcut (BLAS matmul,
    pairwise summation) gives up."""
    import numpy as np

    d = x.shape[1]
    x2 = np.zeros(x.shape[0])
    m2 = np.zeros(m.shape[0])
    xm = np.zeros((x.shape[0], m.shape[0]))
    for j in range(d):
        x2 += x[:, j] * x[:, j]
        m2 += m[:, j] * m[:, j]
        xm += x[:, j, None] * m[None, :, j]
    return x2, m2, xm


def _argmin_cells_kernel(left, right):
    """One vector bucket of a kernel assignment pass: ``left`` = vector
    rows (vec_id, v), ``right`` = the FULL centroid relation (cid, c)
    replicated to this bucket. Emits (vec_id, v, cid, dist): each
    vector's nearest centroid by (dist ASC, cid ASC) — centroids are
    sorted by cid and np.argmin returns the first minimum, so ties
    break exactly like the struct-ordering / window paths. dist is the
    same double the JVM expression produces (see _seq_dots), combined
    in the same (a² − 2ab) + b² tree order."""
    import numpy as np
    import pandas as pd

    empty = _empty_frame(
        (("vec_id", "int64"), ("v", "object"), ("cid", "int64"),
         ("dist", "float64"))
    )
    if not len(left) or not len(right):
        return empty
    cids = right["cid"].to_numpy(dtype=np.int64)
    order = np.argsort(cids)
    cids = cids[order]
    cents = np.stack(right["c"].iloc[order].to_list()).astype(np.float64)
    x = np.stack(left["v"].to_list()).astype(np.float64)
    x2, c2, xc = _seq_dots(x, cents)
    dist = (x2[:, None] - 2 * xc) + c2[None, :]
    best = np.argmin(dist, axis=1)
    return pd.DataFrame(
        {
            "vec_id": left["vec_id"].to_numpy(dtype=np.int64),
            "v": left["v"],
            "cid": cids[best],
            "dist": dist[np.arange(len(best)), best],
        }
    )


def _kernel_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cid, dist) via the bucketed-cogroup Arrow kernel —
    the CORPUS-SCALED-k assignment path (VERDICT r11 #4): with
    k = ceil(sqrt(n)) centroids the per-row map-side array expression
    evaluates k interpreted HOF folds per vector (the 64× hier/semdedup
    probes measured that interpretation, not shuffle, as the dominant
    build cost). Here vectors hash into _ASSIGN_KERNEL_BUCKETS buckets,
    the centroid relation replicates per bucket (k·buckets rows — tiny
    next to n), and each cogroup runs one vectorized numpy pass whose
    accumulation order replicates the JVM fold exactly (_seq_dots).
    Same outputs, same doubles, same tie-breaks."""
    nb = _ASSIGN_KERNEL_BUCKETS
    b_v = vecs.withColumn(
        "_b", F.pmod(F.xxhash64("vec_id"), F.lit(nb)).cast("int")
    ).select("_b", "vec_id", "v")
    b_c = cents.withColumn(
        "_b", F.explode(F.array(*[F.lit(i) for i in range(nb)]))
    ).select("_b", F.col("cid").cast("bigint").alias("cid"), F.col("c"))
    return (
        b_v.groupBy("_b")
        .cogroup(b_c.groupBy("_b"))
        .applyInPandas(
            _argmin_cells_kernel,
            "vec_id bigint, v array<double>, cid bigint, dist double",
        )
    )


def _nearest(vecs: DataFrame, cells, kernel: bool = False) -> DataFrame:
    """(vec_id, v, cid bigint, dist): every vector's nearest DRIVER-HELD
    cell [(id, vector)] by (dist ASC, cid ASC) — the one corpus
    distance pass of the k-means|| build. The expression path carries
    the cells as a literal (_cells_sql); ``kernel=True`` runs the
    bucketed Arrow kernel for corpus-scaled cell counts. Both give the
    same doubles and tie-breaks (_seq_dots)."""
    if kernel:
        return _kernel_assign(vecs, _cells_frame(vecs.sparkSession, cells))
    best = F.expr(f"array_min({_dists_sql(_cells_sql(cells))})")
    # Two projections: the struct is evaluated once, not per field.
    return vecs.select("vec_id", "v", best.alias("_b")).select(
        "vec_id", "v", "_b.cid", "_b.dist"
    )


def _assign(vecs: DataFrame, cents, kernel: bool = False) -> DataFrame:
    """Nearest-centroid assignment (vec_id, v, cid): argmin squared
    distance with cid as the deterministic tie-break via array_min over
    (dist, cid) structs — struct ordering IS (dist ASC, cid ASC), the
    window's exact order, and the whole argmin happens inside one
    projection (no shuffle). ``cents`` is either driver-held cells
    [(cid, c)] (see _nearest; cid comes back as int) or a (cid, c)
    frame, broadcast as one array row. ``kernel=True`` switches to the
    bucketed Arrow kernel — same outputs bit-for-bit (see
    _kernel_assign) — for callers whose centroid count scales with the
    corpus."""
    if isinstance(cents, list):
        return _nearest(vecs, cents, kernel).select(
            "vec_id", "v", F.col("cid").cast("int").alias("cid")
        )
    if kernel:
        cid_type = cents.schema["cid"].dataType
        return _kernel_assign(vecs, cents).select(
            "vec_id", "v", F.col("cid").cast(cid_type).alias("cid")
        )
    best = F.expr(f"array_min({_dists_sql('_cents')}).cid")
    return (
        vecs.crossJoin(F.broadcast(_cent_array(cents, "cid", "c")))
        .select("vec_id", "v", best.alias("cid"))
    )


def _dim_means(assigned: DataFrame) -> DataFrame:
    """(cid, dim, m): per-cluster mean of each vector element. One
    shuffle keyed (cid, dim) with map-side partial avg; K·DIM rows."""
    return (
        assigned.select("cid", F.posexplode("v").alias("dim", "val"))
        .groupBy("cid", "dim")
        .agg(F.avg("val").alias("m"))
    )


def _recompute(assigned: DataFrame) -> DataFrame:
    """Per-cluster mean vector, rebuilt in element order; K rows."""
    per_dim = _dim_means(assigned)
    return per_dim.groupBy("cid").agg(
        F.array_sort(F.collect_list(F.struct("dim", "m"))).getField("m").alias("c")
    )


@register(
    "kmeans_lloyd",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        c0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
                   v AS c
            FROM v ORDER BY vec_id LIMIT {K_CLUSTERS}
        ),
        a1 AS ({_KMEANS_ASSIGN_SQL.format(dist=_SQDIST_SQL, cent="c0")}),
        c1 AS ({_KMEANS_RECOMPUTE_SQL.format(dim=DIM, assigned="a1")}),
        a2 AS ({_KMEANS_ASSIGN_SQL.format(dist=_SQDIST_SQL, cent="c1")}),
        final AS (
            SELECT cid, dim, avg(v[dim]) AS m, count(*) AS n
            FROM (SELECT cid, v, unnest(generate_series(1, {DIM})) AS dim FROM a2)
            GROUP BY cid, dim
        )
        SELECT cid AS cluster_id,
               max(n)             AS n_members,
               round(sum(m), 4)   AS centroid_sum
        FROM final GROUP BY cid
    """,
    doc=f"Lloyd's k-means, K={K_CLUSTERS}, two assignment rounds with a "
        f"deterministic init (the {K_CLUSTERS} lowest vec_ids) — the "
        f"offline centroid refinement ann_ivf's stub documents.",
    scale_notes="The iterative archetype: per round, one broadcast of K x "
                "DIM centroids against the corpus scan (no corpus "
                "shuffle for assignment) + one (cid, dim)-keyed avg "
                "shuffle whose output is K rows. Rounds scale linearly "
                "in corpus size; at 100 TB seed with kmeans_parallel_init "
                "(k-means||, implemented below) and materialize the "
                "corpus between rounds "
                "(done here) so each round re-reads columnar cache, not "
                "lineage. Final stats reuse the assignment pass's "
                "exploded aggregation — counts and centroid sums come "
                "from ONE shuffle, not two.",
)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        fan_out(load(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", _dvec("embedding").alias("v"))
        .transform(materialize)  # both assignment rounds read one decode pass
    )
    c0 = _init_centroids(v, K_CLUSTERS)
    a2 = _assign(v, _recompute(_assign(v, c0)))
    final = (
        a2.select("cid", F.posexplode("v").alias("dim", "val"))
        .groupBy("cid", "dim")
        .agg(F.avg("val").alias("m"), F.count(F.lit(1)).alias("n"))
    )
    return final.groupBy("cid").agg(
        F.max("n").alias("n_members"),
        F.round(F.sum("m"), 4).alias("centroid_sum"),
    ).select(F.col("cid").alias("cluster_id"), "n_members", "centroid_sum")


# --- k-means|| (parallel oversampling init; Bahmani et al., VLDB 2012) ----
# The scalable replacement for sequential k-means++ seeding that
# kmeans_lloyd's scale note promises: each of R rounds samples ~L points
# with probability proportional to their squared distance from the
# current candidate set, so seeding costs R full scans instead of K
# sequential ones. Determinism contract: the sampling decision is pure
# INTEGER arithmetic — u16(md5(vec_id:round)) * phi < L * d2i * 2^16 —
# where d2i is the distance scaled to a bigint and phi its exact bigint
# sum, so Spark and the oracle pick byte-identical candidate sets (no
# float threshold can ulp-flip, the mixture_temperature lesson).
KPP_K = 16          # centers to emit (matches IVFK_CELLS)
KPP_L = 32          # oversampling factor per round (2*K)
KPP_ROUNDS = 2
KPP_SCALE = 1_000_000  # d2 in [0,4] on unit vectors → d2i ≤ 4e6 (no overflow)
_KPP_HEX = "0123456789abcdef"


def _kpp_u16(s) -> F.Column:
    """First 16 bits of md5(s) as a bigint in [0, 65536) — nibble
    polynomial, byte-identical to the oracle's strpos arithmetic."""
    h = F.md5(s)
    return sum(
        (F.instr(F.lit(_KPP_HEX), F.substring(h, i, 1)) - 1).cast("bigint")
        * F.lit(16 ** (4 - i))
        for i in range(1, 5)
    )


def _kpp_u16_sql(expr: str) -> str:
    return " + ".join(
        f"(strpos('{_KPP_HEX}', substr(md5({expr}), {i}, 1)) - 1) * {16 ** (4 - i)}"
        for i in range(1, 5)
    )


def _kpp_round_sql(
    r: int, cent: str, l_expr: str | None = None, src: str = "v"
) -> str:
    """``l_expr`` overrides the oversampling factor L (default the KPP_L
    constant) — it may be a scalar subquery so callers with a
    data-dependent cell count (semdedup) can scale L with k.  ``src``
    names the vector relation the round scans — callers that seed from
    a bounded sample (semdedup) pass their sample CTE."""
    u16 = _kpp_u16_sql(f"CAST(d.vec_id AS VARCHAR) || ':{r}'")
    l_sql = str(KPP_L) if l_expr is None else f"({l_expr})"
    return f"""
        d{r} AS (
            SELECT a.vec_id,
                   CAST(round(min({_SQDIST_SQL}) * {KPP_SCALE}, 0) AS BIGINT) AS d2i
            FROM {src} a CROSS JOIN {cent} c GROUP BY a.vec_id
        ),
        p{r} AS (SELECT CAST(sum(d2i) AS BIGINT) AS phi FROM d{r}),
        s{r} AS (
            SELECT d.vec_id FROM d{r} d, p{r}
            WHERE ({u16}) * phi < {l_sql} * d.d2i * 65536
        ),
        c{r} AS (
            SELECT * FROM {cent}
            UNION ALL
            SELECT s.vec_id AS cid_v, s.v AS c
            FROM {src} s JOIN s{r} USING (vec_id)
        )
    """


# Mini-Lloyd iterations over the weighted CANDIDATE set (≤ 1+L*R rows,
# never the corpus) — Bahmani et al.'s final re-clustering step. Top-k
# by weight alone picks redundant, co-located centers (measured recall
# 0.48-0.56, BELOW the lowest-vec_id baseline); re-clustering the
# candidates is what makes the oversampling pay off.
KPP_MINI_ITERS = 3


def _kpp_mini_round_sql(i: int, cent: str) -> str:
    """One weighted Lloyd iteration over wcand(cid_v, c, weight):
    assignment ma{i} + weighted-mean recompute ms{i}(cid, c)."""
    dist = (
        "list_dot_product(a.c, a.c) - 2 * list_dot_product(a.c, s.c) "
        "+ list_dot_product(s.c, s.c)"
    )
    return f"""
        ma{i} AS (
            SELECT cid, c, weight FROM (
                SELECT s.cid, a.c AS c, a.weight,
                       row_number() OVER (
                           PARTITION BY a.cid_v
                           ORDER BY {dist} ASC, s.cid ASC) AS rn
                FROM wcand a CROSS JOIN {cent} s
            ) WHERE rn = 1
        ),
        ms{i} AS (
            SELECT cid, list(m ORDER BY dim) AS c FROM (
                SELECT cid, dim, sum(c[dim] * weight) / sum(weight) AS m
                FROM (SELECT cid, c, weight,
                             unnest(generate_series(1, {DIM})) AS dim
                      FROM ma{i})
                GROUP BY cid, dim
            ) GROUP BY cid
        )
    """


def _kpp_oversample_rounds_sql(
    l_expr: str | None = None, src: str = "v"
) -> str:
    """The k-means|| oversampling CTE chain c1..c{KPP_ROUNDS}, derived
    from KPP_ROUNDS so the oracle's round count tracks the Spark loop
    (_kpp_candidates iterates range(1, KPP_ROUNDS + 1)) — ADVICE r5 #4:
    the chain was hardcoded at two rounds, silently coupling the
    constants."""
    return ",".join(
        _kpp_round_sql(r, f"c{r - 1}", l_expr, src)
        for r in range(1, KPP_ROUNDS + 1)
    )


def _kpp_seed_chain_sql(
    k: int | str, l_expr: str | None = None, src: str = "v"
) -> str:
    """CTE chain (expects `v(vec_id, v)` already defined): k-means||
    candidates over KPP_ROUNDS rounds → weighted top-k init → weighted
    mini-Lloyd over the candidate set → ``seeds(cid, c)`` — the oracle
    twin of _kpp_seeds, shared with ann_ivf_kmeans's oracle.  ``k`` may
    be an int or a scalar-subquery string (data-dependent cell counts);
    ``l_expr`` likewise overrides the oversampling factor; ``src``
    names the relation the seeding scans (a bounded sample CTE for
    callers that train the quantizer on a sample)."""
    mini = ",".join(
        _kpp_mini_round_sql(i, "seeds0" if i == 1 else f"ms{i - 1}")
        for i in range(1, KPP_MINI_ITERS + 1)
    )
    k_sql = str(k) if isinstance(k, int) else f"({k})"
    return f"""
        c0 AS (
            SELECT vec_id AS cid_v, v AS c FROM {src} ORDER BY vec_id LIMIT 1
        ),
        {_kpp_oversample_rounds_sql(l_expr, src)},
        kpp_asgn AS (
            SELECT vec_id, cid_v FROM (
                SELECT a.vec_id, c.cid_v,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_SQDIST_SQL} ASC, c.cid_v ASC) AS rn
                FROM {src} a CROSS JOIN c{KPP_ROUNDS} c
            ) WHERE rn = 1
        ),
        kpp_w AS (SELECT cid_v, count(*) AS weight FROM kpp_asgn GROUP BY cid_v),
        wcand AS (
            SELECT cc.cid_v, cc.c, w.weight FROM c{KPP_ROUNDS} cc JOIN kpp_w w USING (cid_v)
        ),
        seeds0 AS (
            SELECT CAST(r.rn - 1 AS INT) AS cid, cc.c
            FROM (
                SELECT cid_v,
                       row_number() OVER (ORDER BY weight DESC, cid_v ASC) AS rn
                FROM kpp_w
            ) r JOIN c{KPP_ROUNDS} cc ON r.cid_v = cc.cid_v
            WHERE r.rn <= {k_sql}
        ),
        {mini},
        seeds AS (SELECT cid, c FROM ms{KPP_MINI_ITERS})
    """


@register(
    "kmeans_parallel_init",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        c0 AS (
            SELECT vec_id AS cid_v, v AS c FROM v ORDER BY vec_id LIMIT 1
        ),
        {_kpp_oversample_rounds_sql()},
        asgn AS (
            SELECT vec_id, cid_v FROM (
                SELECT a.vec_id, c.cid_v,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_SQDIST_SQL} ASC, c.cid_v ASC) AS rn
                FROM v a CROSS JOIN c{KPP_ROUNDS} c
            ) WHERE rn = 1
        ),
        w AS (SELECT cid_v, count(*) AS weight FROM asgn GROUP BY cid_v)
        SELECT CAST(rn - 1 AS INT) AS rank, cid_v AS vec_id, weight
        FROM (
            SELECT cid_v, weight,
                   row_number() OVER (ORDER BY weight DESC, cid_v ASC) AS rn
            FROM w
        )
        WHERE rn <= {KPP_K}
    """,
    doc=f"k-means|| parallel seeding (Bahmani et al., VLDB'12): "
        f"{KPP_ROUNDS} oversampling rounds select ~{KPP_L} points each "
        "with probability ∝ squared distance to the running candidate "
        f"set, then candidates are weighted by assignment count and the "
        f"top-{KPP_K} emitted as the initial centers — the scalable "
        "init kmeans_lloyd's scale note defers to, now implemented. "
        "Sampling is exact integer arithmetic on a 16-bit md5 slice so "
        "the candidate set is byte-identical on both engines.",
    scale_notes=f"The candidate set (≤ {1 + KPP_L * KPP_ROUNDS} rows) "
                "lives on the driver and reaches every corpus pass as a "
                "literal array, so no job builds or broadcasts it. Each "
                "round is two map-side passes over the corpus: a 1-row "
                "phi aggregate, then the integer sampling filter with phi "
                "inlined, whose few rows are collected. The distance "
                "pass is recomputed by the second pass rather than "
                "checkpointed (a checkpoint job costs more than the "
                "recompute at bench scale). Weights are one grouped "
                "count; the top-K ranking sorts that bounded result on "
                "the driver. At petabyte scale phi exceeds int64 "
                "headroom with this SCALE; widen to DECIMAL(38,0) sums "
                "— the comparison stays integer-exact.",
)
def kmeans_parallel_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        fan_out(load(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", _dvec("embedding").alias("v"))
        .transform(materialize)  # every round re-reads one decode pass
    )
    ranked = _kpp_weights(v, _kpp_candidates(v))
    top = [
        {"rank": rank, "vec_id": i, "weight": w}
        for rank, (i, w) in enumerate(ranked[:KPP_K])
    ]
    return spark.sql(
        f"SELECT inline({_rows_sql(top, 'rank:int,vec_id:bigint,weight:bigint')})"
    )


def _kpp_candidates(v: DataFrame, l: int = KPP_L, kernel: bool = False) -> list:
    """k-means|| oversampled candidate set as driver rows [(vec_id, c)]:
    the lowest vec_id, then KPP_ROUNDS rounds each sampling ~l points
    with probability ∝ squared distance to the running set. At most
    1 + l*KPP_ROUNDS rows, so the set lives on the driver and reaches
    the corpus pass as a literal (_nearest). A round is two passes over
    the corpus: the phi aggregate, then the collect of the sampled
    rows with phi inlined as a literal — the distance pass is
    recomputed, not checkpointed. ``kernel=True`` routes the distance
    pass through the bucketed Arrow kernel (corpus-scaled candidate
    sets — see _kernel_assign; bit-identical doubles by construction).
    Bounded rows reach the driver through agg_first's collect_list, the
    pattern the PCA covariance uses."""
    c0 = agg_first(v, F.min(F.struct("vec_id", "v")))[0]  # lowest vec_id
    if c0 is None:
        return []
    cand = [(c0.vec_id, c0.v)]
    for r in range(1, KPP_ROUNDS + 1):
        d = _nearest(v, cand, kernel).select(
            "vec_id", "v",
            F.round(F.col("dist") * KPP_SCALE, 0).cast("bigint").alias("d2i"),
        )
        phi = agg_first(d, F.sum("d2i"))[0]
        u16 = _kpp_u16(F.concat(F.col("vec_id").cast("string"), F.lit(f":{r}")))
        picked = d.filter(u16 * F.lit(phi) < F.lit(l) * F.col("d2i") * F.lit(65536))
        rows = agg_first(picked, F.collect_list(F.struct("vec_id", "v")))[0]
        cand += sorted((row.vec_id, row.v) for row in rows)
    return cand


def _kpp_weights(v: DataFrame, cand: list, kernel: bool = False) -> list:
    """[(vec_id, weight)] in rank order (weight DESC, vec_id ASC): each
    candidate weighted by how many vectors it is nearest to, from ONE
    grouped count. A candidate nobody is nearest to (a duplicate of a
    lower vec_id) has no weight and drops out. ``kernel`` as in
    _kpp_candidates. Shared by kmeans_parallel_init and _kpp_seed_cells."""
    counts = _nearest(v, cand, kernel).groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    rows = agg_first(counts, F.collect_list(F.struct("cid", "n")))[0]
    return sorted(((r.cid, r.n) for r in rows), key=lambda t: (-t[1], t[0]))


def _kpp_recluster(wcand: list, seeds: list) -> list:
    """KPP_MINI_ITERS weighted Lloyd iterations over the weighted
    candidates [(vec_id, c, weight)], from ``seeds`` [(cid, c)], on the
    driver — Bahmani et al.'s single-machine re-clustering of the
    O(l·R) candidate set. Bit-identical to the SQL twin
    (_kpp_mini_round_sql): distances use the JVM fold (_seq_dots),
    np.argmin over cid-sorted seeds breaks ties on the lower cid, each
    mean sums val·weight over the members in vec_id order and divides
    by the integer weight sum, and a seed with no members drops out."""
    import numpy as np

    if not wcand:
        return []
    wcand = sorted(wcand, key=lambda t: t[0])
    x = np.array([c for _, c, _ in wcand], dtype=np.float64)
    w = np.array([wt for _, _, wt in wcand], dtype=np.int64)
    seeds = sorted(seeds, key=lambda t: t[0])  # stays cid-sorted below
    for _ in range(KPP_MINI_ITERS):
        x2, s2, xs = _seq_dots(x, np.array([c for _, c in seeds], dtype=np.float64))
        best = np.argmin((x2[:, None] - 2 * xs) + s2[None, :], axis=1)
        moved = []
        for j, (cid, _c) in enumerate(seeds):
            members = np.flatnonzero(best == j)
            if not len(members):
                continue
            acc = np.zeros(x.shape[1])
            for i in members:
                acc += x[i] * w[i]
            moved.append((cid, (acc / float(w[members].sum())).tolist()))
        seeds = moved
    return seeds


def _kpp_seed_cells(v: DataFrame, k: int = KPP_K, l: int = KPP_L) -> list:
    """k-means|| seeds as driver rows [(cid, c)]: the top-k candidates
    by weight (cid = rank), re-clustered by _kpp_recluster. Spark jobs
    run only for passes over the corpus; every bounded relation — the
    candidates, their weights, the seeds — stays on the driver.

    Top-k by weight alone picks redundant, co-located centers; the
    re-clustering is what makes the oversampling pay off. Measured
    recall@10 with these seeds + ONE corpus Lloyd round: 0.82 (sf0.001)
    / 0.66 (sf0.01) vs 0.56 / 0.66 for the previous two-round
    lowest-vec_id build. ``k``/``l`` override the seed count and
    oversampling factor for callers with a corpus-scaled cell count
    (semdedup, ann_ivf_hier). Candidate sets past _KPP_KERNEL_MIN rows
    route the corpus distance passes through the bucketed Arrow kernel
    (bit-identical — _kernel_assign); small fixed-k callers keep the
    zero-shuffle map-side expression."""
    kernel = 1 + l * KPP_ROUNDS > _KPP_KERNEL_MIN
    cand = _kpp_candidates(v, l, kernel=kernel)
    ranked = _kpp_weights(v, cand, kernel=kernel)
    vec = dict(cand)
    return _kpp_recluster(
        [(i, vec[i], wt) for i, wt in ranked],
        [(rank, vec[i]) for rank, (i, _wt) in enumerate(ranked[:k])],
    )


def _kpp_seeds(v: DataFrame, k: int = KPP_K, l: int = KPP_L) -> DataFrame:
    """_kpp_seed_cells as a (cid, c) frame."""
    return _cells_frame(v.sparkSession, _kpp_seed_cells(v, k, l))


@register(
    "feature_scale",
    oracle="""
        WITH stats AS (
            SELECT event_type,
                   avg(value)         AS mu,
                   stddev_samp(value) AS sigma,
                   min(value)         AS lo,
                   max(value)         AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type,
               round((e.value - s.mu) / nullif(s.sigma, 0), 6) AS z_value,
               round((e.value - s.lo) / nullif(s.hi - s.lo, 0), 6) AS minmax_value
        FROM events e JOIN stats s USING (event_type)
    """,
    doc="Per-group feature standardization: z-score and min-max scaling "
        "of event values within each event_type — the two-pass "
        "(aggregate, then broadcast back) normalization an ML feature "
        "pipeline runs before training.",
    scale_notes="The stats relation is |event_type| rows — broadcast back, "
                "so the full data shuffles ZERO times (a window over "
                "event_type would shuffle the whole fact instead). "
                "nullif guards degenerate groups (constant value) to NULL "
                "identically on both engines.",
)
def feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )
    return e.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.round(
            (F.col("value") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0)), 6
        ).alias("z_value"),
        F.round(
            (F.col("value") - F.col("lo"))
            / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0)),
            6,
        ).alias("minmax_value"),
    )


@register(
    "ewma_recent",
    oracle=f"""
        WITH aged AS (
            SELECT user_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) - 1 AS age
            FROM events
        )
        SELECT user_id,
               count(*) AS n_obs,
               round(sum(value * power({1 - EWMA_ALPHA}, age))
                     / sum(power({1 - EWMA_ALPHA}, age)), 6) AS ewma
        FROM aged WHERE age < {EWMA_SPAN}
        GROUP BY user_id
    """,
    doc=f"Truncated EWMA (alpha={EWMA_ALPHA}, span={EWMA_SPAN}) of each "
        f"user's most recent event values — exponential smoothing with "
        f"the adjust=True normalization, truncated where the tail weight "
        f"is < 2e-8.",
    scale_notes="One window shuffle keyed user_id (rank-from-latest), one "
                "same-keyed aggregation — AQE coalesces them onto the same "
                "partitioning. The truncation is what makes this scale: "
                "the exact recursive EWMA needs either a sequential scan "
                "per key or (1-a)^(-rn) weight terms that overflow for "
                "long series; bounding age < span keeps every exponent in "
                "[0, span) at any corpus size.",
)
def ewma_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    decay = F.lit(1 - EWMA_ALPHA)
    aged = e.withColumn("age", F.row_number().over(w) - 1).filter(
        F.col("age") < EWMA_SPAN
    )
    return aged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(
            F.sum(F.col("value") * F.pow(decay, "age"))
            / F.sum(F.pow(decay, "age")),
            6,
        ).alias("ewma"),
    )


PAGERANK_ITERS = 3
PAGERANK_DAMP = 0.85

_PR_EDGES_SQL = """
    edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        GROUP BY 1, 2
    ),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
    nodes AS (SELECT n_nationkey AS node, n_name FROM nation),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nation)
"""


def _pr_iter_sql(prev: str, out: str) -> str:
    """One unrolled power-iteration step: damped in-link mass plus the
    uniformly redistributed dangling mass."""
    return f"""
    {out} AS (
        SELECT n.node,
               0.15 / nn.nn
               + {PAGERANK_DAMP} * (coalesce(c.contrib, 0) + d.mass / nn.nn) AS pr
        FROM nodes n
        CROSS JOIN nn
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.pr * e.w / o.ow) AS contrib
            FROM edges e
            JOIN outw o ON e.src = o.src
            JOIN {prev} p ON p.node = e.src
            GROUP BY e.dst
        ) c ON n.node = c.node
        CROSS JOIN (
            SELECT coalesce(sum(p.pr), 0) AS mass
            FROM {prev} p LEFT JOIN outw o ON p.node = o.src
            WHERE o.src IS NULL
        ) d
    )"""


def _pagerank_oracle() -> str:
    its = ",".join(
        _pr_iter_sql(f"it{i - 1}" if i > 1 else "pr0", f"it{i}")
        for i in range(1, PAGERANK_ITERS + 1)
    )
    return f"""
        WITH {_PR_EDGES_SQL},
        pr0 AS (SELECT node, 1.0 / nn.nn AS pr FROM nodes CROSS JOIN nn),
        {its}
        SELECT n.n_name, round(p.pr, 6) AS pagerank
        FROM it{PAGERANK_ITERS} p JOIN nodes n USING (node)
    """


@register(
    "pagerank",
    oracle=_pagerank_oracle(),
    doc=f"Weighted PageRank ({PAGERANK_ITERS} power iterations, damping "
        f"{PAGERANK_DAMP}) over the customer-nation → supplier-nation "
        f"trade graph derived from lineitem ⋈ orders ⋈ customer ⋈ "
        f"supplier — which nations sit at the center of the supply web.",
    scale_notes="The heavy part is edge derivation: three fact-dim joins "
                "(dims broadcast) and one (src,dst)-keyed aggregation — "
                "that runs ONCE and is localCheckpointed; each power "
                "iteration then touches only the |nations|² edge "
                "relation with a broadcast pr vector, so iteration cost "
                "is independent of corpus size. For billion-node graphs "
                "the same loop holds with pr as a partitioned (not "
                "broadcast) relation and src-keyed co-partitioned joins "
                "— the dedup_clusters large-graph pattern.",
)
def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")

    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .transform(materialize)  # reused every iteration; edge build runs once
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow")).transform(materialize)
    nodes = nation.select(F.col("n_nationkey").alias("node"), "n_name")
    nrow = nation.agg(F.count(F.lit(1)).cast("double").alias("nn"))

    pr = (
        nodes.crossJoin(F.broadcast(nrow))
        .select("node", (F.lit(1.0) / F.col("nn")).alias("pr"))
        .transform(materialize)
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            edges.join(outw, "src")
            .join(
                F.broadcast(pr.select(F.col("node").alias("src"), "pr")), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("w") / F.col("ow")).alias("contrib"))
            .select(F.col("dst").alias("node"), "contrib")
        )
        dangling = (
            pr.join(outw, pr.node == outw.src, "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("mass"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(nrow))
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("nn")
                    + F.lit(PAGERANK_DAMP)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("mass") / F.col("nn")
                    )
                ).alias("pr"),
            )
            .transform(materialize)  # truncate per-round lineage (25 rows)
        )
    return pr.join(nodes, "node").select("n_name", F.round("pr", 6).alias("pagerank"))


WINSOR_LO = 0.05
WINSOR_HI = 0.95


@register(
    "winsorize",
    oracle=f"""
        WITH q AS (
            SELECT event_type,
                   quantile_cont(value, {WINSOR_LO}) AS lo,
                   quantile_cont(value, {WINSOR_HI}) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type,
               round(e.value, 4) AS value,
               round(least(greatest(e.value, q.lo), q.hi), 4) AS winsorized,
               (e.value < q.lo OR e.value > q.hi) AS clipped
        FROM events e JOIN q USING (event_type)
    """,
    doc=f"Winsorization: clamp event values to the per-group "
        f"[p{int(WINSOR_LO * 100)}, p{int(WINSOR_HI * 100)}] exact "
        f"interpolated percentiles — the outlier treatment an ML feature "
        f"pipeline applies before scaling (complement of feature_scale).",
    scale_notes="Spark's exact `percentile` and DuckDB's quantile_cont "
                "share the (n-1)p linear-interpolation definition, so the "
                "clamp edges are engine-identical. The quantile relation "
                "is |event_type| rows broadcast back — no second "
                "full-data shuffle; at extreme scale swap the exact "
                "percentile for percentile_approx (approx_quantiles "
                "documents the error-bound contract).",
)
def winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.expr(f"percentile(value, {WINSOR_LO})").alias("lo"),
        F.expr(f"percentile(value, {WINSOR_HI})").alias("hi"),
    )
    return e.join(F.broadcast(q), "event_type").select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.round(
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 4
        ).alias("winsorized"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "clipped"
        ),
    )


_TRI_EDGES_SQL = """
    und AS (
        SELECT DISTINCT least(c.c_nationkey, s.s_nationkey)    AS a,
                        greatest(c.c_nationkey, s.s_nationkey) AS b
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    )
"""


@register(
    "triangle_count",
    oracle=f"""
        WITH {_TRI_EDGES_SQL},
        tri AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        member AS (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        SELECT n.n_name, count(*) AS n_triangles
        FROM member m JOIN nation n ON m.node = n.n_nationkey
        GROUP BY n.n_name
    """,
    doc="Triangle counting on the undirected nation trade graph (edges = "
        "distinct customer-nation ↔ supplier-nation trading pairs): per "
        "nation, the number of closed trading triangles it participates "
        "in — the clustering-structure statistic behind community and "
        "cohesion analysis.",
    scale_notes="The classic compact-forward algorithm: orient every edge "
                "low→high so each triangle is enumerated exactly once, "
                "then one equi-join builds wedges (a→b→c) and a second "
                "equi-join closes them against the edge set — all joins "
                "keyed, no cartesian. Edge derivation (the only "
                "fact-scale work) is dims-broadcast joins + a DISTINCT "
                "that collapses to |nations|² rows before any graph step. "
                "At general-graph scale the standard refinement is "
                "degree-based orientation (low-degree→high-degree), which "
                "bounds wedge fan-out by sqrt(|E|) per vertex; id-based "
                "orientation is equivalent here because the nation graph "
                "is near-complete.",
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")

    und = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct()
        .transform(materialize)  # tiny (≤ |nations|²); feeds three join sides
    )
    e1 = und
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    # Wedge-close joins broadcast the (tiny, checkpointed) edge set; the
    # per-triangle member expansion is ONE explode, not a 3-way union of
    # tri (which would rebuild the join lineage once per branch).
    tri = (
        e1.join(F.broadcast(e2), "b")
        .join(
            F.broadcast(e3),
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    member = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return (
        member.join(
            F.broadcast(nation), member.node == nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


BFS_ROUNDS = 4
BFS_SOURCE = 0          # n_nationkey of the BFS root
BFS_EDGE_FRAC = 0.5     # keep edges with weight >= this fraction of avg


def _bfs_iter_sql(prev: str, out: str) -> str:
    """One unrolled BFS relaxation: dist_{k+1}(n) = min(dist_k(n),
    1 + min over kept in-edges of dist_k(src)). Explicit CASE instead of
    least() so NULL semantics cannot differ between engines."""
    return f"""
    {out} AS (
        SELECT n.node,
               CASE WHEN n.dist IS NULL THEN c.cd
                    WHEN c.cd IS NULL THEN n.dist
                    ELSE least(n.dist, c.cd) END AS dist
        FROM {prev} n
        LEFT JOIN (
            SELECT e.dst AS node, min(p.dist) + 1 AS cd
            FROM kept e JOIN {prev} p ON p.node = e.src
            WHERE p.dist IS NOT NULL
            GROUP BY e.dst
        ) c ON n.node = c.node
    )"""


def _graph_bfs_oracle() -> str:
    its = ",".join(
        _bfs_iter_sql(f"d{i - 1}", f"d{i}") for i in range(1, BFS_ROUNDS + 1)
    )
    return f"""
        WITH {_PR_EDGES_SQL},
        aw AS (SELECT avg(w) AS aw FROM edges),
        kept AS (
            SELECT src, dst FROM edges, aw WHERE w >= {BFS_EDGE_FRAC} * aw
        ),
        d0 AS (
            SELECT node, CASE WHEN node = {BFS_SOURCE} THEN 0 END AS dist
            FROM nodes
        ),
        {its}
        SELECT n.n_name, CAST(d.dist AS INT) AS hops
        FROM d{BFS_ROUNDS} d JOIN nodes n USING (node)
        WHERE d.dist IS NOT NULL
    """


@register(
    "graph_bfs",
    oracle=_graph_bfs_oracle(),
    doc=f"Single-source BFS shortest hops (≤{BFS_ROUNDS} rounds) from "
        f"nation {BFS_SOURCE} over the STRONG trade graph — the pagerank "
        f"edge relation thresholded to weights ≥ {BFS_EDGE_FRAC}x the "
        "average, so reachability means 'connected by substantial trade "
        "volume', not by any single order. Frontier relaxation: each "
        "round min-merges 1 + the frontier's out-neighbor distances into "
        "the running distance vector.",
    scale_notes="Edge derivation (three broadcast dim joins + one "
                "(src,dst) aggregation) runs ONCE and is checkpointed; "
                "each round then joins the |nations|-row distance vector "
                "(broadcast) against the edge relation and min-merges — "
                "iteration cost is independent of fact size. On a "
                "billion-node graph the identical loop runs with dist "
                "co-partitioned with edges on src (dedup_clusters' "
                "pattern) and stops early via the same frontier-empty "
                "convergence probe used there.",
)
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")

    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .transform(materialize)  # edge build runs once; every round reuses it
    )
    avg_w = edges.agg(F.avg("w").alias("aw"))
    kept = (
        edges.join(F.broadcast(avg_w))
        .filter(F.col("w") >= BFS_EDGE_FRAC * F.col("aw"))
        .select("src", "dst")
        .transform(materialize)
    )
    dist = nation.select(
        F.col("n_nationkey").alias("node"),
        F.when(F.col("n_nationkey") == BFS_SOURCE, 0).alias("dist"),
    ).transform(materialize)
    for _ in range(BFS_ROUNDS):
        cand = (
            kept.join(
                F.broadcast(
                    dist.filter(F.col("dist").isNotNull())
                    .select(F.col("node").alias("src"), "dist")
                ),
                "src",
            )
            .groupBy("dst")
            .agg((F.min("dist") + 1).alias("cd"))
            .select(F.col("dst").alias("node"), "cd")
        )
        dist = dist.join(F.broadcast(cand), "node", "left").select(
            "node",
            F.when(F.col("dist").isNull(), F.col("cd"))
            .when(F.col("cd").isNull(), F.col("dist"))
            .otherwise(F.least("dist", "cd"))
            .alias("dist"),
        ).transform(materialize)  # 25-row vector; truncate per-round lineage
    return (
        dist.filter(F.col("dist").isNotNull())
        .join(
            F.broadcast(nation), dist.node == nation.n_nationkey
        )
        .select("n_name", F.col("dist").cast("int").alias("hops"))
    )


IVFK_CELLS = 16  # ann_ivf_kmeans coarse-quantizer cells
# ADVICE r5 #4: the oracle seeds via _kpp_seed_chain_sql(IVFK_CELLS)
# while the Spark path emits KPP_K seeds (_kpp_seed_cells) — the two constants
# MUST agree or Spark/oracle diverge silently. The oversampling-round
# count is already derived from KPP_ROUNDS on both sides
# (_kpp_oversample_rounds_sql / the _kpp_candidates loop).
assert IVFK_CELLS == KPP_K, "ann_ivf_kmeans: cell count must equal KPP_K seeds"
IVFK_PROBE = 4   # cells probed per query
_IVFK_COS_SQL = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})))"
)


# Shared by ann_ivf_kmeans and ann_index_persist: the persisted-index
# serving path must produce BIT-IDENTICAL results to the in-memory one,
# so both keys check against one oracle.
_IVFK_ORACLE = f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        {_kpp_seed_chain_sql(IVFK_CELLS)},
        la1 AS ({_KMEANS_ASSIGN_SQL.format(dist=_SQDIST_SQL, cent="seeds")}),
        lc1 AS ({_KMEANS_RECOMPUTE_SQL.format(dim=DIM, assigned="la1")}),
        dist AS (
            SELECT a.vec_id, a.v, c.cid,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {_SQDIST_SQL} ASC, c.cid ASC) AS rn
            FROM v a CROSS JOIN lc1 c
        ),
        asgn AS (SELECT vec_id, v, cid FROM dist WHERE rn = 1),
        probes AS (
            SELECT vec_id AS query_id, v AS qv, cid
            FROM dist WHERE rn <= {IVFK_PROBE} AND vec_id % 100 = 0
        ),
        scored AS (
            SELECT p.query_id, b.vec_id,
                   {_IVFK_COS_SQL.format(a="p.qv", b="b.v")} AS cos
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
    """


def _ivfk_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(v, dist): the k-means||-seeded IVF index — every vector's
    IVFK_PROBE nearest cells, probe-ranked. Deterministic build, cached
    per (session, sf_dir) via session_artifact — a real deployment
    builds the IVF index once and serves every query from it; rebuilding
    it per call was bench artifact, not design (VERDICT r8 #4). The
    seeds and cells are driver-held (_kpp_seed_cells); the build's jobs
    are the v decode, the k-means|| corpus passes, one Lloyd round and
    the materialized probe ranking."""
    from pubsub2bq_spark.tables import session_artifact

    def _build_index() -> tuple[DataFrame, DataFrame]:
        v = (
            fan_out(load(spark, sf_dir, "embeddings"), spark)
            .select("vec_id", _dvec("embedding").alias("v"))
            .transform(materialize)  # feeds both Lloyd rounds + search pass
        )
        # The corpus Lloyd round; its IVFK_CELLS means come back to the
        # driver per (cid, dim) — one exchange fewer than _recompute's
        # assembled vectors — and the probe ranking carries them as a
        # constant.
        means = agg_first(
            _dim_means(_assign(v, _kpp_seed_cells(v))),
            F.collect_list(F.struct("cid", "dim", "m")),
        )[0]
        by_cid: dict = {}
        for cid, _dim, m in sorted(means):
            by_cid.setdefault(cid, []).append(m)
        cells = sorted(by_cid.items())
        # Probe-depth nearest cells map-side: sort the per-vector
        # (dist, cid) struct array — struct order IS the old window's
        # (dist ASC, cid ASC) — and explode only the IVFK_PROBE head;
        # the former crossJoin + row_number shuffled n × k vector rows.
        ranked = F.expr(
            f"slice(array_sort({_dists_sql(_cells_sql(cells))}), 1, {IVFK_PROBE})"
        )
        dist = (
            v.select("vec_id", "v", F.posexplode(ranked).alias("_p", "_cell"))
            .select(
                "vec_id",
                "v",
                F.col("_cell.cid").cast("int").alias("cid"),
                F.col("_cell.dist").alias("dist"),
                (F.col("_p") + 1).alias("rn"),
            )
            .transform(materialize)  # index build; feeds assignment AND probes
        )
        return v, dist

    return session_artifact(spark, "ivfk_index", sf_dir, _build_index)


def _ivfk_search(
    dist: DataFrame,
    frag_col: str | None = None,
    n_members: int | None = None,
) -> DataFrame:
    """Top-10 probe search over the (vec_id, v, cid, rn) index relation
    — shared verbatim by the in-memory and the reloaded-from-disk
    serving paths so their results cannot diverge. The scoring stage is
    the shared per-cell cogroup kernel (_ivf_probe_search, r12): the
    corpus shuffles once on (cid, fragment) and only per-fragment top-k
    winners reach this window. ``frag_col`` (serve-from-disk path)
    names the index's precomputed fragment column, letting a bucketed
    on-disk layout satisfy the cogroup distribution with no exchange.
    ``n_members`` (serve-from-disk path, counted once at build time)
    lets _ivf_probe_search route small corpora onto its JVM expression
    path — bit-identical by construction (_seq_dots), so the two
    serving paths still cannot diverge."""
    from pubsub2bq_spark.operators.llm_similarity import _ivf_probe_search

    asgn = dist.filter(F.col("rn") == 1).select(
        "vec_id", "v", "cid", *([frag_col] if frag_col else [])
    )
    probes = dist.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cid"
    )
    scored = _ivf_probe_search(
        asgn, probes, frag_col=frag_col, n_members=n_members
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cosine"), "rank")
    )


@register(
    "ann_ivf_kmeans",
    oracle=_IVFK_ORACLE,
    doc=f"IVF ANN with k-means-refined centroids: {IVFK_CELLS} cells "
        "seeded by k-means|| (kmeans_parallel_init's oversampling, "
        "wired in via _kpp_seed_cells) and refined by ONE Lloyd round, then "
        f"ann_ivf's probe flow — queries search their {IVFK_PROBE} "
        "nearest cells. The better seeding buys the second Lloyd round: "
        "recall@10 holds at/above the two-round lowest-vec_id build's "
        "0.66 with half the refinement scans — measured via the "
        "ann_recall harness (tests assert ≥ the ann_ivf stub's floor).",
    scale_notes="Every bounded relation of the build — the ≤ 1+L*R "
                "candidates, their weights, the seeds and the 16 refined "
                "cells — is held on the driver as plain rows; Spark jobs "
                "run only for passes over the corpus: two per k-means|| "
                "round (k-means||'s point: R scans instead of K "
                "sequential picks), one weight count, one Lloyd round "
                "and the probe-ranking pass. The candidates are "
                "re-clustered on the driver (Bahmani et al.'s "
                "single-machine step) with the JVM's summation order, "
                "and each corpus pass carries its cells as a literal "
                "array in one map-side argmin — no broadcast job, no "
                "corpus shuffle until the search, which shuffles on "
                "cell id. The refined centroids are persisted with the "
                "index and amortize over every query; cell sizes also "
                "even out vs the stub (bounded per-cell scan work), "
                "which matters as much as recall.",
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    _v, dist = _ivfk_index(spark, sf_dir)
    return _ivfk_search(dist)


@register(
    "ann_index_persist",
    oracle=_IVFK_ORACLE,
    doc="IVF index persistence — the serve-from-disk deployment path: "
        "build ann_ivf_kmeans's index once, WRITE its artifact (the "
        "probe-ranked (vec_id, v, cid, rn) relation = assignments + "
        "query probe lists) to parquet partitioned by cell id, then "
        "answer the SAME top-10 query purely from the RELOADED files. "
        "Results are bit-identical to ann_ivf_kmeans (shared search "
        "code and shared oracle): the round-trip proves doubles, "
        "array<double> vectors and probe ranks survive parquet "
        "serialization exactly.",
    scale_notes="The persisted artifact is O(n·probe) rows written "
                "once, PARTITIONED BY cid on disk — a serving job that "
                "probes a query's cells reads only those partitions "
                "(partition pruning on the cell id), never the corpus; "
                "centroids stay a broadcast-size table. The session "
                "cache (VERDICT r8 #4) is the warm twin of this path: "
                "build once, serve every query, re-seed never.",
)
def ann_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re

    from pubsub2bq_spark.operators.llm_similarity import _IVF_SEARCH_FRAGS
    from pubsub2bq_spark.tables import scratch_dir, session_artifact

    def _persist() -> tuple[str, int]:
        v, dist = _ivfk_index(spark, sf_dir)
        # BUCKETED external table on the cogroup keys (cid, _f): the
        # bucketed scan's HashPartitioning satisfies the search
        # kernel's ClusteredDistribution, so serving reads the corpus
        # with NO exchange — the production IVF layout (an index IS
        # cell-bucketed storage). _f precomputes the same
        # pmod(xxhash64(vec_id)) values _ivf_probe_search derives, so
        # the in-memory and reloaded paths stay result-identical.
        # The scratch dir's unique basename suffixes the METASTORE name
        # too (ADVICE r12): a catalog-global name keyed only on sf_dir
        # would collide with a stale table from a prior process (whose
        # external path may be deleted) or a concurrent session on the
        # same sf.
        out_root = scratch_dir("ivf_index_")
        tbl = "ivf_index_" + re.sub(
            r"[^A-Za-z0-9_]", "_",
            sf_dir.strip("/") + "_" + os.path.basename(out_root),
        ).strip("_").lower()
        out = os.path.join(out_root, "tbl")
        frag = F.pmod(
            F.xxhash64("vec_id"), F.lit(_IVF_SEARCH_FRAGS)
        ).cast("int")
        # Repartition ON the bucket keys first: DataFrame.repartition and
        # the bucketed writer share Murmur3 HashPartitioning, so each
        # write task holds exactly one bucket id and emits ONE file —
        # without it every one of the 32 upstream tasks writes a file
        # per bucket it touches (measured: 816 KB-sized files at sf0.1,
        # and each serve re-opened all of them twice; 1.04 s of the r12
        # flag was file-open scheduling, not compute). Compact bucket
        # files are also the production layout.
        (
            dist.withColumn("_f", frag)
            .repartition(_IVF_INDEX_BUCKETS, F.col("cid"), F.col("_f"))
            .write.mode("overwrite")
            .bucketBy(_IVF_INDEX_BUCKETS, "cid", "_f")
            .option("path", out)
            .saveAsTable(tbl)
        )
        # Corpus size, counted ONCE at build time and stored with the
        # index — serving dispatches on it (expression path below
        # _IVF_SERVE_EXPR_MAX members, Arrow kernel above) without a
        # per-query count job. v is materialized; the count is free.
        # (scalar aggregate probe — the sanctioned one-row exception,
        # same shape as the quantizer's sizing probe)
        return tbl, v.agg(F.count(F.lit(1))).first()[0]

    tbl, n = session_artifact(spark, "ivfk_index_path", sf_dir, _persist)
    reloaded = spark.table(tbl).select(
        "vec_id", "v", F.col("cid").cast("int").alias("cid"), "rn", "_f"
    )
    return _ivfk_search(reloaded, frag_col="_f", n_members=n)


# ann_ivf_kmeans is an ANN method branch of ann_recall (llm_similarity):
# recompose that oracle now this module's keys are registered. Imported
# here (not at the top) so the name exists whichever module loads first.
from pubsub2bq_spark.operators.llm_similarity import (  # noqa: E402
    refresh_ann_recall_oracle,
)

refresh_ann_recall_oracle()


# --- hierarchical IVF assignment (two-level coarse quantizer) -------------
# The "next rung" semdedup's scale notes promise: with corpus-scaled cell
# counts (k = ceil(sqrt(n)), the IVF nlist rule) flat nearest-cell
# assignment costs n*k = n^1.5 distance ops — the dominant build phase
# the r6 64x probe measured. Grouping the k cell centroids under
# s = ceil(sqrt(k)) supercells (one tiny Lloyd round over the CENTROID
# table, never the corpus) routes each vector nearest-supercell-first,
# then argmin over only that supercell's ~k/s cells: n*(s + k/s) =
# 2n*k^0.5 = 2n^1.25 total. The routing is the standard hierarchical-
# k-means / IMI approximation: a vector whose true nearest cell lives
# just across a supercell boundary lands in a neighbor cell —
# tests/test_ml_ops.py measures the flat-vs-hierarchical agreement rate.
HIER_CELL_FLOOR = 16        # k floor (matches IVFK_CELLS / SEMDEDUP_CELLS)
HIER_SAMPLE_PER_CELL = 128  # quantizer trains on ≤ 128*k sampled vectors

# Distance template with free aliases (the module-level _SQDIST_SQL pins
# `a.v`/`c.c`, which the supercell CTEs can't all satisfy).
_SQ2 = (
    "list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b})"
)


def _ann_ivf_hier_oracle() -> str:
    # lc1/sc1 are AS MATERIALIZED: DuckDB inlines single-referenced CTEs,
    # and lc1 (referenced by sc0/sa1/cmap) would re-inline the whole
    # k-means|| chain per reference — the optimizer then walks an
    # exponentially-copied plan (~115 s planning for 2 s of execution,
    # measured at sf0.01). Materialization pins each stage to one copy.
    smp = _kpp_u16_sql("CAST(v.vec_id AS VARCHAR) || ':smp'")
    return f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        sz AS (
            SELECT CAST(greatest({HIER_CELL_FLOOR}, ceil(sqrt(n)))
                       AS BIGINT) AS k,
                   CAST(ceil(sqrt(greatest({HIER_CELL_FLOOR},
                       ceil(sqrt(n))))) AS BIGINT) AS s,
                   CAST(least(n, {HIER_SAMPLE_PER_CELL}
                       * greatest({HIER_CELL_FLOOR}, ceil(sqrt(n))))
                       AS BIGINT) AS cap,
                   n
            FROM (SELECT count(*) AS n FROM v)
        ),
        vs AS (
            SELECT v.vec_id, v.v FROM v, sz
            WHERE ({smp}) * n < 65536 * cap
        ),
        {_kpp_seed_chain_sql(
            "SELECT k FROM sz", "SELECT 2 * k FROM sz", src="vs"
        )},
        la1 AS (
            SELECT vec_id, v, cid FROM (
                SELECT a.vec_id, a.v, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_SQDIST_SQL} ASC, c.cid ASC) AS rn
                FROM vs a CROSS JOIN seeds c
            ) WHERE rn = 1
        ),
        lc1 AS MATERIALIZED (
            {_KMEANS_RECOMPUTE_SQL.format(dim=DIM, assigned="la1")}
        ),
        sc0 AS (
            SELECT cid AS sid, c FROM lc1 WHERE cid < (SELECT s FROM sz)
        ),
        sa1 AS (
            SELECT cid, v FROM (
                SELECT a.cid AS sid_cid, a.c AS v, b.sid AS cid,
                       row_number() OVER (
                           PARTITION BY a.cid
                           ORDER BY {_SQ2.format(a="a.c", b="b.c")} ASC,
                                    b.sid ASC) AS rn
                FROM lc1 a CROSS JOIN sc0 b
            ) WHERE rn = 1
        ),
        sc1 AS MATERIALIZED (
            {_KMEANS_RECOMPUTE_SQL.format(dim=DIM, assigned="sa1")}
        ),
        cmap AS (
            SELECT cell_id, cc, sid FROM (
                SELECT a.cid AS cell_id, a.c AS cc, b.cid AS sid,
                       row_number() OVER (
                           PARTITION BY a.cid
                           ORDER BY {_SQ2.format(a="a.c", b="b.c")} ASC,
                                    b.cid ASC) AS rn
                FROM lc1 a CROSS JOIN sc1 b
            ) WHERE rn = 1
        ),
        r1 AS (
            SELECT vec_id, v, sid FROM (
                SELECT a.vec_id, a.v, b.cid AS sid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_SQ2.format(a="a.v", b="b.c")} ASC,
                                    b.cid ASC) AS rn
                FROM v a CROSS JOIN sc1 b
            ) WHERE rn = 1
        ),
        r2 AS (
            SELECT vec_id, sid, cell_id FROM (
                SELECT a.vec_id, a.sid, m.cell_id,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_SQ2.format(a="a.v", b="m.cc")} ASC,
                                    m.cell_id ASC) AS rn
                FROM r1 a JOIN cmap m ON a.sid = m.sid
            ) WHERE rn = 1
        )
        SELECT CAST(sid AS INT) AS sid, CAST(cell_id AS INT) AS cid,
               count(*) AS n_vecs, min(vec_id) AS min_vec_id
        FROM r2 GROUP BY sid, cell_id
    """


def _hier_build(v: DataFrame, n: int) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(cents, sc1, cmap): the two-level quantizer — k sample-trained cell
    centroids, ≤ sqrt(k) supercentroids, and the broadcast cell→supercell
    routing table. Split out so tests can measure flat-vs-hierarchical
    routing agreement on the same build."""
    k = max(HIER_CELL_FLOOR, math.ceil(math.sqrt(n)) if n else 0)
    s = math.ceil(math.sqrt(k))
    cap = min(n, HIER_SAMPLE_PER_CELL * k)
    if cap < n:
        u16 = _kpp_u16(F.concat(F.col("vec_id").cast("string"), F.lit(":smp")))
        vs = v.filter(u16 * F.lit(n) < F.lit(65536 * cap)).transform(materialize)
    else:
        vs = v
    seeds = _kpp_seed_cells(vs, k=k, l=2 * k)
    # Cells train on the sample only — the full corpus is touched by
    # nothing but the two routing passes in the caller. The sample
    # Lloyd round assigns against k corpus-scaled seeds → kernel path.
    cents = _recompute(
        _assign(vs, seeds, kernel=k > _KPP_KERNEL_MIN)
    ).transform(materialize)
    sc0 = cents.filter(F.col("cid") < s)
    cv = cents.select(F.col("cid").alias("vec_id"), F.col("c").alias("v"))
    sa1 = _assign(cv, sc0).select("cid", "v")  # (sid, cell centroid)
    sc1 = _recompute(sa1).transform(materialize)  # supercentroids, ≤ s rows
    cmap = (
        _assign(cv, sc1)
        .select(
            F.col("vec_id").alias("cell_id"),
            F.col("v").alias("cc"),
            F.col("cid").alias("sid"),
        )
        .transform(materialize)  # broadcast routing table, ≤ k rows
    )
    return cents, sc1, cmap


def _hier_route(v: DataFrame, sc1: DataFrame, cmap: DataFrame,
                with_v: bool = False, probes: int = 1) -> DataFrame:
    """(vec_id, sid, cell_id[, v]): nearest-supercell-first vector
    routing. Stage 2 is a broadcast equi-join on sid against the
    PER-SUPERCELL cell array (~k/s structs) + a map-side array_min —
    the former row-level cmap join + window shuffled n × k/s vector
    rows. ``with_v`` keeps the vector column for consumers whose next
    stage scores members (the SemDeDup quantizer).

    ``probes`` > 1 routes each vector through its ``probes`` nearest
    supercells and argmins over the UNION of their cells — the standard
    multi-probe recovery for hierarchical quantization's boundary
    misassignments (the recall knob ann_ivf_hier's scale notes
    document). Cost n·(s + probes·k/s), still far below flat n·k; the
    whole selection stays inside one projection over a broadcast
    sid→cells map (no shuffle, no extra corpus pass) and the returned
    ``sid`` is the chosen CELL's supercell."""
    cells_by_sid = cmap.groupBy("sid").agg(
        F.collect_list(F.struct("cell_id", "cc", "sid")).alias("_cells")
    )
    if probes == 1:
        r1 = _assign(v, sc1).select("vec_id", "v", F.col("cid").alias("sid"))
        best = F.array_min(
            F.transform(
                F.col("_cells"),
                lambda s: F.struct(
                    _sqdist(F.col("v"), s["cc"]).alias("dist"),
                    s["cell_id"].alias("cell_id"),
                ),
            )
        )
        return (
            r1.join(F.broadcast(cells_by_sid), "sid")
            .select(
                "vec_id", "sid", best["cell_id"].alias("cell_id"),
                *(["v"] if with_v else []),
            )
        )
    sid_map = cells_by_sid.agg(
        F.map_from_entries(
            F.collect_list(F.struct("sid", "_cells"))
        ).alias("_m")
    )
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda s: F.struct(
                    _sqdist(F.col("v"), s["c"]).alias("dist"),
                    s["cid"].alias("cid"),
                ),
            )
        ),
        1,
        probes,
    )
    # A probed supercell can own ZERO cells (Lloyd reassignment between
    # sa1 and cmap may empty a cluster): element_at then yields NULL,
    # and flatten over a null element would null-poison the whole
    # candidate array — filter empties out first, matching the SQL
    # twin's inner join (which simply contributes no candidates for
    # that sid and falls back to the other probed supercell's cells).
    cands = F.flatten(
        F.filter(
            F.transform(
                ranked, lambda r: F.element_at(F.col("_m"), r["cid"])
            ),
            lambda a: a.isNotNull(),
        )
    )
    best = F.array_min(
        F.transform(
            cands,
            lambda c: F.struct(
                _sqdist(F.col("v"), c["cc"]).alias("dist"),
                c["cell_id"].alias("cell_id"),
                c["sid"].alias("sid"),
            ),
        )
    )
    return (
        v.crossJoin(F.broadcast(_cent_array(sc1, "cid", "c")))
        .crossJoin(F.broadcast(sid_map))
        .select(
            "vec_id",
            best["sid"].alias("sid"),
            best["cell_id"].alias("cell_id"),
            *(["v"] if with_v else []),
        )
        # every probed supercell empty (impossible unless the whole map
        # is) would make best NULL — drop to match the SQL inner join
        .filter(F.col("cell_id").isNotNull())
    )


@register(
    "ann_ivf_hier",
    oracle=_ann_ivf_hier_oracle(),
    doc=f"Hierarchical two-level IVF assignment: k = "
        f"max({HIER_CELL_FLOOR}, ceil(sqrt(n))) cells trained on a "
        f"≤ {HIER_SAMPLE_PER_CELL}*k deterministic sample (k-means|| "
        "seeds + one sample Lloyd round), grouped under s = "
        "ceil(sqrt(k)) supercells by one Lloyd round over the CENTROID "
        "table; each vector routes nearest-supercell-first, then argmin "
        "over that supercell's cells only. Output: one row per occupied "
        "(supercell, cell) with member count and lowest member id — the "
        "index manifest a downstream ANN search or SemDeDup prune reads.",
    scale_notes="Assignment is the phase that dominates corpus-scaled "
                "IVF builds (n*k = n^1.5 when k = sqrt(n), measured by "
                "the r6 64x probe on semdedup); two-level routing cuts "
                "it to n*(s + k/s) = 2n^1.25. Every quantizer artifact "
                "is bounded: seeds/centroids ≤ k rows, supercentroids "
                "≤ sqrt(k) rows, all broadcast; the supercell Lloyd "
                "round runs over the k-row centroid table (k^1.5 work, "
                "= n^0.75 — free). Stage-2 fan-out joins each vector to "
                "only its supercell's ~k/s cells via the broadcast cmap "
                "relation keyed on sid. The trade is routing "
                "approximation at supercell boundaries (standard "
                "hierarchical k-means / IMI behavior) — measured as "
                "flat-agreement in tests, and recoverable the standard "
                "way (probe >1 supercell) if a consumer needs it.",
)
def ann_ivf_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pubsub2bq_spark.tables import session_artifact

    def _build_index() -> tuple[DataFrame, DataFrame, DataFrame]:
        v = (
            fan_out(load(spark, sf_dir, "embeddings"), spark)
            .select("vec_id", _dvec("embedding").alias("v"))
            .transform(materialize)  # count probe + sampling + routing passes
        )
        n = v.agg(F.count(F.lit(1))).first()[0]
        _cents, sc1, cmap = _hier_build(v, n)
        return v, sc1, cmap

    # Two-level quantizer cached per (session, sf_dir) — same
    # build-once-serve-many contract as ann_ivf_kmeans (VERDICT r8 #4).
    v, sc1, cmap = session_artifact(spark, "ivf_hier_index", sf_dir, _build_index)
    return (
        _hier_route(v, sc1, cmap)
        .groupBy("sid", "cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .select(
            F.col("sid").cast("int").alias("sid"),
            F.col("cell_id").cast("int").alias("cid"),
            "n_vecs",
            "min_vec_id",
        )
    )


# Engine-portable SQL for the strong trade graph + bounded reachability:
# identical text runs as the Spark query (over registered views) and the
# DuckDB oracle — WITH RECURSIVE is in both dialects (Spark 4.1+).
_RECURSIVE_REACH_SQL = f"""
    WITH RECURSIVE edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(count(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        GROUP BY 1, 2
    ),
    aw AS (SELECT avg(w) AS aw FROM edges),
    kept AS (
        SELECT src, dst FROM edges, aw WHERE w >= {BFS_EDGE_FRAC} * aw
    ),
    reach(node, hops) AS (
        SELECT CAST({BFS_SOURCE} AS INT) AS node, 0 AS hops
        UNION ALL
        SELECT e.dst AS node, r.hops + 1 AS hops
        FROM reach r JOIN kept e ON e.src = r.node
        WHERE r.hops < {BFS_ROUNDS}
    )
    SELECT n.n_name, CAST(min(r.hops) AS INT) AS hops
    FROM reach r JOIN nation n ON r.node = n.n_nationkey
    GROUP BY n.n_name
"""

# The recursion itself, over a pre-materialized `kept` relation: Spark
# inlines non-recursive CTEs into every recursion step, so the 4-join
# edge derivation above would re-run per step. The Spark side
# checkpoints the edge build once (exactly graph_bfs's discipline) and
# recurses over the tiny relation; the oracle keeps the self-contained
# text (DuckDB materializes CTEs, so it pays the build once either way).
_RECURSIVE_STEP_SQL = f"""
    WITH RECURSIVE reach(node, hops) AS (
        SELECT CAST({BFS_SOURCE} AS INT) AS node, 0 AS hops
        UNION ALL
        SELECT e.dst AS node, r.hops + 1 AS hops
        FROM reach r JOIN kept_edges e ON e.src = r.node
        WHERE r.hops < {BFS_ROUNDS}
    )
    SELECT n.n_name, CAST(min(r.hops) AS INT) AS hops
    FROM reach r JOIN nation n ON r.node = n.n_nationkey
    GROUP BY n.n_name
"""


@register(
    "recursive_cte",
    oracle=_RECURSIVE_REACH_SQL,
    doc="Recursive CTE (Spark 4.1 WITH RECURSIVE): bounded transitive "
        "closure over the strong trade graph — the SQL-native twin of "
        "graph_bfs's DataFrame frontier loop, identical recursion text "
        "on both engines. min(hops) per reached nation; tests assert it "
        "equals graph_bfs exactly.",
    scale_notes="The recursion unrolls to the same per-round join shape "
                "as graph_bfs (frontier ⋈ edges), driven by the engine "
                "instead of the application. Spark INLINES non-recursive "
                "CTEs into every step, so the edge derivation is "
                "checkpointed ONCE and exposed as a temp view before "
                "recursing (measured 1.3x warm / 2.7x cold at sf0.1 vs "
                "the self-contained text; the gap grows with fact size "
                "since the inlined build re-runs per step) — DuckDB "
                "materializes CTEs and needs no such split. UNION ALL + an explicit hop bound keeps the "
                "working set finite; on billion-node graphs prefer the "
                "explicit loop (graph_bfs) for per-round checkpointing "
                "and convergence-probe control.",
)
def recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pubsub2bq_spark.tables import register_views

    register_views(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .transform(materialize)  # built once; the recursion reuses the result
    )
    avg_w = edges.agg(F.avg("w").alias("aw"))
    kept = (
        edges.join(F.broadcast(avg_w))
        .filter(F.col("w") >= BFS_EDGE_FRAC * F.col("aw"))
        .select("src", "dst")
        .transform(materialize)
    )
    kept.createOrReplaceTempView("kept_edges")
    return spark.sql(_RECURSIVE_STEP_SQL)


# --- embedding_pca: exact-quantized power iteration ------------------

PCA_STEPS = 8            # fixed unrolled power-iteration steps
PCA_QV = 1_000_000       # embedding quantum (1e-6)
PCA_QC = 1_000_000_000   # covariance quantum (1e-9)
PCA_V0 = 125_000         # v0 = 1/sqrt(DIM) = 0.125, exactly representable


def _pca_ctes() -> str:
    """Shared CTE chain (through ``lam``): the identical quantized
    covariance + the same PCA_STEPS matvec/rescale rounds as unrolled
    CTEs — every summed quantity is an exact BIGINT, every double op
    has the same shape as the Spark/driver side, so the trajectories
    are bit-identical. MATERIALIZED is load-bearing: each step
    references its predecessor twice (matvec + max-abs), so plain
    CTE inlining would re-derive the covariance 2^PCA_STEPS times."""
    ctes = [f"""
        q AS MATERIALIZED (
            SELECT vec_id, CAST(i - 1 AS INT) AS d,
                   CAST(round(CAST(embedding[i] AS DOUBLE) * {PCA_QV}, 0)
                        AS BIGINT) AS qv
            FROM embeddings, unnest(generate_series(1, {DIM})) AS t(i)
        ),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
        s AS (SELECT d, CAST(sum(qv) AS BIGINT) AS s FROM q GROUP BY d),
        s2 AS (
            SELECT a.d AS i, b.d AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS s2
            FROM q a JOIN q b USING (vec_id) GROUP BY a.d, b.d
        ),
        cov AS MATERIALIZED (
            SELECT i, j,
                   CAST(round((CAST(s2 AS DOUBLE) / n / {float(PCA_QV) ** 2}
                               - (CAST(si.s AS DOUBLE) / n / {float(PCA_QV)})
                                 * (CAST(sj.s AS DOUBLE) / n / {float(PCA_QV)}))
                              * {PCA_QC}, 0) AS BIGINT) AS c
            FROM s2 JOIN s si ON s2.i = si.d JOIN s sj ON s2.j = sj.d, nn
        ),
        v0 AS (SELECT DISTINCT i AS d, CAST({PCA_V0} AS BIGINT) AS v FROM cov)"""]
    for k in range(PCA_STEPS):
        ctes.append(f"""
        w{k} AS MATERIALIZED (
            SELECT cov.i AS d, CAST(sum(cov.c * v{k}.v) AS BIGINT) AS w
            FROM cov JOIN v{k} ON cov.j = v{k}.d GROUP BY cov.i
        ),
        m{k} AS (SELECT greatest(max(abs(w)), 1) AS m FROM w{k}),
        v{k + 1} AS MATERIALIZED (
            SELECT d, CAST(floor(CAST(w AS DOUBLE) / m * {float(PCA_QV)})
                           AS BIGINT) AS v
            FROM w{k}, m{k}
        )""")
    K = PCA_STEPS
    return f"""{','.join(ctes)},
        wf AS (
            SELECT cov.i AS d, CAST(sum(cov.c * v{K}.v) AS BIGINT) AS w
            FROM cov JOIN v{K} ON cov.j = v{K}.d GROUP BY cov.i
        ),
        pick AS (SELECT d, v FROM v{K} ORDER BY abs(v) DESC, d ASC LIMIT 1),
        lam AS MATERIALIZED (
            SELECT CAST(wf.w AS DOUBLE) / ({float(PCA_QC)} * pick.v) AS eigval,
                   CASE WHEN pick.v < 0 THEN -1 ELSE 1 END AS sgn
            FROM wf JOIN pick ON wf.d = pick.d
        )"""


def _pca_oracle() -> str:
    K = PCA_STEPS
    return f"""
        WITH {_pca_ctes()}
        SELECT v{K}.d AS dim,
               lam.sgn * (CAST(v{K}.v AS DOUBLE) / {float(PCA_QV)}) AS loading,
               lam.eigval AS eigval
        FROM v{K}, lam
    """


def _whiten_oracle() -> str:
    K = PCA_STEPS
    return f"""
        WITH {_pca_ctes()},
        nrm AS (
            SELECT CAST(sum(v * v) AS BIGINT) AS ss FROM v{K}
        ),
        comp AS MATERIALIZED (
            SELECT list(lam.sgn * (CAST(v{K}.v AS DOUBLE) / {float(PCA_QV)})
                        / sqrt(CAST(nrm.ss AS DOUBLE) / {float(PCA_QV) ** 2})
                        ORDER BY v{K}.d) AS cv
            FROM v{K}, lam, nrm
        )
        SELECT e.vec_id, e.label,
               round(list_dot_product(e.dv, comp.cv), 6) AS proj,
               round(list_dot_product(e.dv, e.dv)
                     - list_dot_product(e.dv, comp.cv)
                       * list_dot_product(e.dv, comp.cv), 6) AS resid_sq
        FROM (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
            FROM embeddings
        ) e, comp
    """


@register(
    "embedding_pca",
    oracle=_pca_oracle(),
    doc=f"Top principal component of the embedding table by {PCA_STEPS} "
        "power-iteration steps over the exact quantized covariance — the "
        "PCA/whitening preprocessing SemDeDup-style pipelines run before "
        "clustering, and the dimensionality screen for embedding-column "
        "QA. Output: one row per dimension with the (sign-canonicalized) "
        "component loading and the Rayleigh-free eigenvalue estimate. "
        "Every distributed sum is an exact scaled-BIGINT (embeddings at "
        "1e-6, covariance at 1e-9), every float op has a fixed shape, so "
        "Spark and the oracle walk bit-identical trajectories.",
    scale_notes=f"Covariance is ONE pass: posexplode the {DIM}-dim vector "
                f"twice ({DIM}^2 pair rows per vector, map-side only) into "
                f"a {DIM}x{DIM}-group aggregate — the shuffle carries "
                "4096 partial-sum rows per map task, nothing per-vector. "
                "The matrix is then bounded (4096 rows, localCheckpointed); "
                f"each of the {PCA_STEPS} iterations is one {DIM}-column "
                "scalar-probe aggregate over it (driver traffic = one "
                f"{DIM}-number row per step, constant in corpus size) and "
                "the weight vector returns as plan literals. At 100 TB "
                "the only corpus-scaled stage is the first aggregate; "
                "BIGINT headroom holds to ~2e7 vectors at |e|<=1 "
                "(sum(q_i*q_j) < 2^63) — beyond that, drop PCA_QV to 1e5 "
                "(headroom x100) or pre-aggregate per-partition moments.",
)
def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = "dim int, loading double, eigval double"
    comp = _pca_component(spark, sf_dir)
    if comp is None:
        return spark.createDataFrame([], schema)
    v_q, sgn, eigval = comp
    rows = [
        (d, sgn * (float(v_q[d]) / float(PCA_QV)), eigval) for d in range(DIM)
    ]
    return spark.createDataFrame(rows, schema)


def _pca_component(spark: SparkSession, sf_dir: str):
    """(v_q, sgn, eigval): the quantized top component, its canonical
    sign, and the eigenvalue estimate — the bounded model artifact both
    embedding_pca and embedding_whiten consume."""
    import math

    e = fan_out(load(spark, sf_dir, "embeddings"), spark)
    # ONE corpus pass: quantize, double-posexplode to (i, j) pairs, and
    # aggregate ALL covariance ingredients per (i, j) group — the pair
    # moment sum(qi*qj), the per-dim sums (sum(qi) over the group IS the
    # dim-i sum, for any j; likewise qj), and the vector count. The
    # shuffle carries DIM^2 partial-sum rows per map task.
    qarr = e.select(
        F.transform(
            _dvec("embedding"),
            lambda x: F.round(x * PCA_QV, 0).cast("bigint"),
        ).alias("qs")
    )
    pairs = qarr.select(
        "qs", F.posexplode("qs").alias("i", "qi")
    ).select(
        F.col("i").cast("int").alias("i"),
        "qi",
        F.posexplode("qs").alias("j", "qj"),
    )
    moments = pairs.groupBy("i", F.col("j").cast("int").alias("j")).agg(
        F.sum(F.col("qi") * F.col("qj")).alias("s2"),
        F.sum("qi").alias("sqi"),
        F.sum("qj").alias("sqj"),
        F.count(F.lit(1)).alias("n"),
    )
    # Same double shapes as the oracle's cov CTE (s2/n/QV^2 - mi*mj),
    # with mi/mj derived from the group's own exact integer sums — no
    # join needed at all.
    m_i = F.col("sqi").cast("double") / F.col("n") / float(PCA_QV)
    m_j = F.col("sqj").cast("double") / F.col("n") / float(PCA_QV)
    cov = moments.select(
        "i",
        "j",
        F.round(
            (
                F.col("s2").cast("double") / F.col("n") / float(PCA_QV) ** 2
                - m_i * m_j
            )
            * PCA_QC,
            0,
        )
        .cast("bigint")
        .alias("c"),
    )
    # ONE scalar probe fetches the whole quantized covariance — a
    # bounded DIM^2 model artifact (like logreg's weights or k-means
    # centroids), constant in corpus size. The power iteration then
    # runs in exact Python integer arithmetic, mirroring the oracle's
    # unrolled CTEs operand-for-operand — no per-step cluster jobs.
    cells = agg_first(
        cov, F.collect_list(F.struct("i", "j", "c")).alias("cells")
    )["cells"]
    if not cells:
        # empty embeddings table: the oracle's CTE chain yields zero
        # rows; callers must emit an empty frame, not divide by zero
        return None
    C = [[0] * DIM for _ in range(DIM)]
    for cell in cells:
        C[cell["i"]][cell["j"]] = int(cell["c"])

    def matvec(v_q: list[int]) -> list[int]:
        return [sum(C[i][j] * v_q[j] for j in range(DIM)) for i in range(DIM)]

    v_q = [PCA_V0] * DIM
    for _ in range(PCA_STEPS):
        w = matvec(v_q)
        m = max(max(abs(x) for x in w), 1)
        # float()-first mirrors the oracle's CAST(... AS DOUBLE)/m shape
        v_q = [int(math.floor(float(x) / float(m) * float(PCA_QV))) for x in w]
    w_f = matvec(v_q)
    k_star = max(range(DIM), key=lambda k: (abs(v_q[k]), -k))
    eigval = float(w_f[k_star]) / (float(PCA_QC) * float(v_q[k_star]))
    sgn = -1.0 if v_q[k_star] < 0 else 1.0
    return v_q, sgn, eigval


@register(
    "embedding_whiten",
    oracle=_whiten_oracle(),
    doc="Apply the learned top principal component (embedding_pca's "
        "artifact) back to every vector: per-vector projection onto the "
        "component plus the squared residual norm — the de-biasing / "
        "variance-screen step that follows PCA in an embedding-hygiene "
        "pipeline (drop or down-weight the dominant direction before "
        "near-dup clustering). Both engines learn the component through "
        "the same bit-identical quantized iteration, then score with "
        "the same sequential-fold dot products, 6dp-rounded.",
    scale_notes="Training reuses embedding_pca's envelope (one corpus "
                "pass + a bounded-artifact iteration); application is a "
                "stateless map — the component rides to executors as a "
                f"{DIM}-literal array, so there is NO join and NO "
                "shuffle on the scoring path. At 100 TB this is the "
                "canonical learn-small/apply-wide shape: one aggregate "
                "pass to fit, one scan to score.",
)
def embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    comp_art = _pca_component(spark, sf_dir)
    if comp_art is None:
        return spark.createDataFrame(
            [], "vec_id bigint, label int, proj double, resid_sq double"
        )
    v_q, sgn, eigval = comp_art
    # unit-normalize from the EXACT integer sum of squares, so the norm
    # (and every component element) is bit-identical to the oracle's
    norm = math.sqrt(float(sum(x * x for x in v_q)) / float(PCA_QV) ** 2)
    comp = F.array(
        *[
            F.lit(sgn * (float(v_q[d]) / float(PCA_QV)) / norm)
            for d in range(DIM)
        ]
    )
    e = fan_out(load(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", _dvec("embedding").alias("dv")
    )
    proj = _dot(F.col("dv"), comp)
    return e.select(
        "vec_id",
        "label",
        F.round(proj, 6).alias("proj"),
        F.round(_dot(F.col("dv"), F.col("dv")) - proj * proj, 6).alias(
            "resid_sq"
        ),
    )
