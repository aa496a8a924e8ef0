"""Deduplication family over `documents`: SURVEY.md §2.10 (U6) + the
training-data-pipeline dedup suite.

Four tiers, each a real 100 TB strategy:

* exact        — hash-groupBy on a content digest (one shuffle);
* ngram_jaccard— token-set Jaccard with *blocking* (lang, source,
                 length band) so candidate pairs stay near-linear;
* minhash_lsh  — MinHash signatures + banded LSH bucket join: the
                 scalable near-dup path (pairs only form inside a
                 band bucket);
* simhash      — 64-bit sign-of-sums fingerprint; Hamming-radius
                 candidate pairs via 8-bit band masks (pigeonhole:
                 distance <= 7 guarantees one equal band).

Hashing is md5-based on BOTH engines (hex strings compare
lexicographically the same everywhere), so every tier is
oracle-checkable — no engine-specific hash functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pubsub2bq_spark.registry import register
from pubsub2bq_spark.tables import (
    _empty_frame,
    _size_bytes,
    fan_out,
    fetch_rows,
    load,
    materialize,
    rows_frame,
)

N_MINHASH = 8          # minhash signature length
LSH_BANDS = 4          # bands of 2 rows each
_TOKENIZE = "[^a-z]+"  # same regex both engines


def _tokens(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), _TOKENIZE), lambda x: x != "")


@register(
    "text_dedup",
    oracle="""
        SELECT md5(lower(text)) AS text_hash,
               min(doc_id)      AS canonical_doc_id,
               count(*)         AS n_copies
        FROM documents
        GROUP BY md5(lower(text))
    """,
    doc="Exact dedup: group documents by content digest; keep the lowest "
        "doc_id as canonical.",
    scale_notes="The digest is computed map-side, so the shuffle moves "
                "(hash, doc_id) pairs only — never document bodies. The "
                "baseline 100 TB dedup pass.",
)
def text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.lower(F.col("text"))).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_JAC_KERNEL_CAP = 4096  # block members before the salted-join fallback
_JAC_TAU = 0.6
# Byte cap for any single dense doc×vocab-chunk slab inside the kernel
# (a full m×V matrix is O(m·V) — 4096 vocabulary-diverse
# docs × ~1M distinct tokens would be tens of GB; the Gram blocks were
# bounded but X itself was not). 64 MB keeps the worker's peak at
# slab + accumulated lower-triangle Gram (≤ m²/2 · 4 B = 32 MB at cap).
_JAC_DENSE_BUDGET = 64 << 20


def _jaccard_block_kernel(pdf):
    """One (lang, source, len_band) block: emit every qualifying pair
    (doc_a < doc_b, jaccard > tau) with the exact set-Jaccard. Binary
    doc×vocab matrix, densified one VOCAB CHUNK at a time under
    _JAC_DENSE_BUDGET bytes so kernel memory is O(m·Vc + m·block) —
    never O(m·V) — while the blocked Gram product still yields every
    intersection size exactly (per-chunk partial counts are integers
    ≤ |tok|, exact in float32, and their sum across chunks stays
    exact); union = |A| + |B| − inter from the set sizes; the division
    runs in float64 on exact integers — identical to the JVM
    expression. A zero union (two letter-free docs) is masked out,
    matching Spark's NULL-dropped 0/0."""
    import numpy as np
    import pandas as pd

    empty = _empty_frame(
        (("doc_a", "int64"), ("doc_b", "int64"), ("jaccard", "float64"))
    )
    m = len(pdf)
    if m < 2:
        return empty
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    toklists = pdf["tok"].iloc[order]
    vocab: dict = {}
    rows, cols = [], []
    nt = np.zeros(m, dtype=np.int64)
    for i, ts in enumerate(toklists):
        nt[i] = len(ts)
        for t in ts:
            j = vocab.setdefault(t, len(vocab))
            rows.append(i)
            cols.append(j)
    if not vocab:
        return empty
    nv = len(vocab)
    rs = np.asarray(rows, dtype=np.int64)
    cs = np.asarray(cols, dtype=np.int64)
    order2 = np.argsort(cs, kind="stable")
    rs, cs = rs[order2], cs[order2]
    vc = max(1, _JAC_DENSE_BUDGET // (4 * m))
    block = 1024
    starts = list(range(1, m, block))
    # Lower-triangle Gram accumulators, one per row block — float32
    # partial intersection counts, summed over vocab chunks.
    inters = [
        np.zeros((min(i0 + block, m) - i0, min(i0 + block, m)), np.float32)
        for i0 in starts
    ]
    for v0 in range(0, nv, vc):
        v1 = min(v0 + vc, nv)
        lo, hi = np.searchsorted(cs, v0), np.searchsorted(cs, v1)
        xc = np.zeros((m, v1 - v0), dtype=np.float32)
        xc[rs[lo:hi], cs[lo:hi] - v0] = 1.0
        for bi, i0 in enumerate(starts):
            i1 = min(i0 + block, m)
            inters[bi] += xc[i0:i1] @ xc[:i1].T
    out_a, out_b, out_j = [], [], []
    for bi, i0 in enumerate(starts):
        i1 = min(i0 + block, m)
        inter = inters[bi].astype(np.float64)
        union = (nt[i0:i1, None] + nt[None, :i1]).astype(np.float64) - inter
        col = np.arange(i1)
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = inter / union
            qual = (
                (jac > _JAC_TAU)
                & (union > 0)
                & (col[None, :] < np.arange(i0, i1)[:, None])
            )
        ii, jj = np.nonzero(qual)
        if len(ii):
            out_a.append(ids[jj])
            out_b.append(ids[ii + i0])
            out_j.append(jac[ii, jj])
    if not out_a:
        return empty
    j = np.concatenate(out_j)
    return pd.DataFrame(
        {
            "doc_a": np.concatenate(out_a),
            "doc_b": np.concatenate(out_b),
            # floor(x*1e6+0.5)/1e6 == DuckDB round(x, 6) (std::round on
            # the double) for the positive ratios emitted here. Spark's
            # F.round (HALF_UP on the shortest decimal repr) — the rule
            # the hot/JVM paths apply — can disagree by 1e-6 only when
            # x*1e6's float error crosses a .5 boundary, which needs a
            # denominator with a factor 2^7/5^7 (> any block size here);
            # accepted divergence, and the driver's exact hash would
            # surface it. Same convention in llm_quality /
            # llm_similarity kernels and gen_compression_golden.
            "jaccard": np.floor(j * 1e6 + 0.5) / 1e6,
        }
    )



@register(
    "ngram_jaccard",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang, source, n_chars,
                   list_distinct(list_filter(
                       string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                     / nullif(len(list_distinct(list_concat(a.tok, b.tok))), 0),
                     6) AS jaccard
        FROM toks a JOIN toks b
          ON a.lang = b.lang AND a.source = b.source
         AND (a.n_chars // 100) = (b.n_chars // 100)
         AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
              / nullif(len(list_distinct(list_concat(a.tok, b.tok))), 0) > 0.6
    """,
    doc="Token-set Jaccard near-dup with blocking on (lang, source, "
        "100-char length band); emits pairs with similarity > 0.6.",
    scale_notes="Blocking keys turn the quadratic all-pairs into "
                "per-bucket work — the shuffle is on the block key, and "
                "bucket sizes stay bounded. Pair SCORING is vectorized "
                "since r11 (the 32x probe measured the exploded "
                "self-join at 53.7s, exponent 1.24 — every pair row "
                "carried BOTH token arrays): blocks up to 4096 members "
                "run one Arrow kernel per block (binary doc×vocab "
                "matrix, one Gram product yields every intersection "
                "size; unions from the set sizes) and only qualifying "
                "(id, id, jaccard) rows leave the worker — re-measured "
                "3.2s at 32x (same-session min-of-3), exponent flat. "
                "Bigger blocks keep the fragment-replicate salted "
                "self-join. The un-blocked fallback is minhash_lsh "
                "below.",
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        (F.col("n_chars") / 100).cast("bigint").alias("len_band"),
        F.array_distinct(_tokens(F.col("text"))).alias("tok"),
    ).transform(materialize)  # kernel groups + hot fallback read one pass
    # Pair scoring vectorized (r11): the blocked self-join exploded
    # every within-block pair as a row carrying BOTH token arrays
    # (53.7s at the 32x probe, exponent 1.24); blocks up to
    # _JAC_KERNEL_CAP members instead run one Arrow kernel per
    # (lang, source, len_band) block — binary doc×vocab matrix, one
    # Gram product gives every intersection size, unions come from the
    # set sizes — and only the qualifying (id, id, jaccard) rows leave
    # the worker. Bigger blocks keep the fragment-replicate salted
    # self-join; both paths emit identical rows.
    counts = toks.groupBy("lang", "source", "len_band").agg(
        F.count(F.lit(1)).alias("_n")
    )
    # Two tiers, measured in one session at 1x/32x (min-of-3): routing
    # tiny blocks to the exploded JVM join looked attractive (saves
    # ~1.5s of Python-worker overhead at 1x) but costs 3x at 32x
    # (9.2s vs 3.2s — the small-block tail still explodes millions of
    # array-carrying pair rows), so every block up to the cap runs the
    # kernel and only unbounded-m^2 monsters take the salted join.
    kernel_blocks = (
        counts.filter(F.col("_n") <= _JAC_KERNEL_CAP)
        .select("lang", "source", "len_band")
        .withColumn("_kern", F.lit(True))
        .transform(materialize)
    )
    tagged = toks.join(
        F.broadcast(kernel_blocks), ["lang", "source", "len_band"], "left"
    )
    dense = (
        tagged.filter(F.col("_kern").isNotNull())
        .select("lang", "source", "len_band", "doc_id", "tok")
        .groupBy("lang", "source", "len_band")
        .applyInPandas(
            _jaccard_block_kernel,
            "doc_a bigint, doc_b bigint, jaccard double",
        )
    )
    hot = tagged.filter(F.col("_kern").isNull()).select(
        "lang", "source", "len_band", "doc_id", "tok"
    )
    pr = _salted_self_join(hot, ["lang", "source", "len_band"])
    inter = F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b"))).cast(
        "double"
    )
    union = F.size(F.array_distinct(F.concat(F.col("tok_a"), F.col("tok_b"))))
    # nullif guard: two letter-free docs in one block give
    # 0/0 — Spark yields NULL (pair dropped) but DuckDB IEEE float ops
    # can yield NaN/inf; nullif on BOTH sides pins the semantics.
    jac = inter / F.nullif(union.cast("double"), F.lit(0.0))
    hot_out = (
        pr.filter(jac > 0.6)
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )
    return dense.unionByName(hot_out)


def _shingles(t: Column) -> Column:
    """3-word shingles from a *materialized* token-array column; short docs
    fall back to the whole token string.

    IMPORTANT: `t` must be a plain column reference (tokens projected in a
    prior select), not the tokenize expression itself — element_at is
    evaluated 3× per shingle and would re-run the split each time.
    """
    n = F.size(t)
    tri = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)
        ),
    )
    return F.when(n >= 3, tri).otherwise(F.array(F.concat_ws(" ", t)))


_SHINGLES_SQL = """
    CASE WHEN len(tok) >= 3
         THEN list_transform(range(1, len(tok) - 1),
                             i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
         ELSE [coalesce(array_to_string(tok, ' '), '')] END
"""
# coalesce = Spark's concat_ws fallback: DuckDB's array_to_string([]) is
# NULL while concat_ws over an empty array is '' (the r8 hypothesis find).


def _minhash_sig_sql() -> str:
    # 8 independent 32-bit hashes from TWO md5 digests (8-hex-char slices):
    # 4× cheaper than salting md5 per hash function; hex-string min ==
    # numeric min, identical on both engines.
    mins = ",\n               ".join(
        (
            f"min(substr(md5(sh), {8 * j + 1}, 8)) AS h{j}"
            if j < 4
            else f"min(substr(md5('x' || sh), {8 * (j - 4) + 1}, 8)) AS h{j}"
        )
        for j in range(N_MINHASH)
    )
    bands = ",\n               ".join(
        f"h{2*j} || h{2*j+1} AS band{j}" for j in range(LSH_BANDS)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               x -> x <> '') AS tok
            FROM documents
        ),
        sh AS (
            SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM toks
        ),
        sig AS (
            SELECT doc_id,
               {mins}
            FROM sh GROUP BY doc_id
        ),
        banded AS (
            SELECT doc_id,
               {bands}
            FROM sig
        )
    """


# Hot-bucket salting for the band self-joins: a bucket
# with B members emits B^2 pairs through ONE reducer when the shuffle key
# is the band value alone — a degenerate block (thousands of identical
# docs) serializes the whole operator. Buckets above _HOT_BUCKET_T split
# fragment-replicate style: the probe side keeps its doc-hash salt, the
# build side replicates across all _N_BAND_SALT salts, and the join key
# becomes (band, salt) — per-reducer work drops to B*(B/S), output
# identical (same pairs, each exactly once). Mirrors skew_salted_join
# (joins.py), specialized to the a.doc_id < b.doc_id self-join shape.
_HOT_BUCKET_T = 64   # bucket members before salting kicks in
_N_BAND_SALT = 8


def _salted_self_join(
    melted: DataFrame, keys: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Within-bucket pair generation: self-join `melted` on equal `keys`
    with id_a < id_b (``id_col``, default doc_id), hot buckets salted.
    Returns every column of `melted` twice, suffixed _a / _b.
    Result-identical to the plain self-join — salting only re-keys the
    shuffle.

    ONE join, conditional salt (not a cold/hot branch union — that shape
    ran the band join twice and measured ~1.9x): rows in cold buckets
    carry salt 0 on both sides; rows in hot buckets carry their doc-hash
    salt on the build side and replicate across all _N_BAND_SALT salts
    on the probe side. The join key (keys..., salt) is then exactly the
    plain key for cold buckets and the fragment-replicate key for hot
    ones, so the only added cost over the unsalted join is the bucket
    count + a broadcast hot-tag — and no reducer owns a whole hot band.

    The hot-bucket list is broadcast: by construction it holds at most
    |melted| / _HOT_BUCKET_T rows and true skew means FEW hot keys; a
    corpus where most buckets exceed T needs a higher T (or band width),
    not a bigger broadcast."""
    cols = list(melted.columns)

    counts = melted.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    hot = (
        counts.filter(F.col("n") > _HOT_BUCKET_T)
        .drop("n")
        .withColumn("_hot", F.lit(True))
        .transform(materialize)
    )
    tagged = melted.join(F.broadcast(hot), keys, "left").withColumn(
        "_salt",
        F.when(
            F.col("_hot").isNotNull(),
            F.pmod(F.xxhash64(id_col), F.lit(_N_BAND_SALT)),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    probe = tagged.withColumn(
        "_sj",
        F.explode(
            F.when(
                F.col("_hot").isNotNull(),
                F.array(*[F.lit(s) for s in range(_N_BAND_SALT)]),
            ).otherwise(F.array(F.lit(0)))
        ),
    )
    a, b = probe.alias("a"), tagged.alias("b")
    cond = (F.col("a._sj") == F.col("b._salt")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    sel = [F.col(f"a.{c}").alias(f"{c}_a") for c in cols] + [
        F.col(f"b.{c}").alias(f"{c}_b") for c in cols
    ]
    return a.join(b, cond).select(*sel)


@register(
    "minhash_lsh",
    oracle=_minhash_sig_sql()
    + """
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM (SELECT doc_id, unnest([band0, band1, band2, band3]) AS bk FROM banded) a
        JOIN (SELECT doc_id, unnest([band0, band1, band2, band3]) AS bk FROM banded) b
          ON a.bk = b.bk AND a.doc_id < b.doc_id
    """,
    doc="MinHash (8 salted md5 min-hashes over 3-word shingles) + banded "
        "LSH (4 bands × 2 rows): candidate near-dup pairs form only when a "
        "full band collides.",
    scale_notes="THE scalable near-dup design: signatures are fixed-size "
                "(shuffle moves 8 hashes/doc, not text), the band join is an "
                "equi-join on the band key, and buckets over "
                f"{_HOT_BUCKET_T} members are fragment-replicate salted "
                "(_salted_self_join) so no reducer owns a whole hot band. "
                "Candidate pairs then go through ngram_jaccard-style "
                "verification.",
)
def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (r10, the shared-artifact pattern): the candidate
    pair relation is a deterministic function of the corpus and feeds
    dedup_clusters / minhash_verified / dedup_keep_best — candidate
    generation runs once per (session, sf), as a deployment would."""
    from pubsub2bq_spark.tables import session_artifact

    return session_artifact(
        spark, "minhash_lsh_pairs", sf_dir,
        lambda: materialize(_minhash_lsh_impl(spark, sf_dir)),
    )


def _minhash_lsh_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    tok = d.select("doc_id", _tokens(F.col("text")).alias("tok"))
    sh = tok.select("doc_id", F.explode(_shingles(F.col("tok"))).alias("sh")).select(
        "doc_id",
        F.md5(F.col("sh")).alias("m0"),
        F.md5(F.concat(F.lit("x"), F.col("sh"))).alias("m1"),
    )
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.substring(F.col("m0" if j < 4 else "m1"), 8 * (j % 4) + 1, 8)).alias(f"h{j}")
            for j in range(N_MINHASH)
        ]
    )
    banded = sig.select(
        "doc_id",
        *[
            F.concat(F.col(f"h{2 * j}"), F.col(f"h{2 * j + 1}")).alias(f"band{j}")
            for j in range(LSH_BANDS)
        ],
    )
    # Materialize the signature pipeline once: without this, BOTH sides of
    # the band self-join re-run shingling + 2 md5s per shingle + the min
    # aggregate — the expensive half of the whole operator, twice.
    melted = banded.select(
        "doc_id",
        F.explode(F.array(*[F.col(f"band{j}") for j in range(LSH_BANDS)])).alias("bk"),
    ).transform(materialize)
    return (
        _salted_self_join(melted, ["bk"])
        .select(F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b"))
        .distinct()
    )


_SIMHASH_BITS = 64      # bit j = bit (j%4) of md5 hex nibble (j//4 + 1)
_SH_BANDS = 8           # 8 bands x 8 bits; dist <= 7 => one band equal
_SH_RADIUS = 7          # pigeonhole-complete Hamming radius
_SH_HEX = "0123456789abcdef"

_SH_TOK_CTE = """
        tok AS (
            SELECT doc_id,
                   unnest(list_distinct(list_filter(
                       string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''))) AS tok
            FROM documents
        )
"""


def _sh_bits_cte() -> str:
    """`bits` CTE: b0..b63 as 0/1 INTEGERs, one sign-of-sums per bit."""
    cols = ",\n               ".join(
        f"""CASE WHEN sum(CASE WHEN (strpos('{_SH_HEX}',
                       substr(md5(tok), {j // 4 + 1}, 1)) - 1) & {1 << (j % 4)} <> 0
                          THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS b{j}"""
        for j in range(_SIMHASH_BITS)
    )
    return f"""
        bits AS (
            SELECT doc_id,
               {cols}
            FROM tok GROUP BY doc_id
        )
    """


def _sh_fp_cte() -> str:
    """`fp` CTE: the 64 bits packed into two BIGINT halves (lo=bits 0-31)."""
    lo = " + ".join(f"CAST(b{j} AS BIGINT) * {1 << j}" for j in range(32))
    hi = " + ".join(f"CAST(b{j} AS BIGINT) * {1 << (j - 32)}" for j in range(32, 64))
    return f"""
        fp AS (
            SELECT doc_id, {lo} AS lo, {hi} AS hi FROM bits
        )
    """


def _simhash_sql() -> str:
    concat = " || ".join(f"CAST(b{j} AS VARCHAR)" for j in range(_SIMHASH_BITS))
    return f"""
        WITH {_SH_TOK_CTE}, {_sh_bits_cte()}
        SELECT doc_id, {concat} AS simhash FROM bits
    """


def _sh_tok_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w0, w1): md5 computed ONCE per distinct token and its 16
    hex digits packed into two 32-bit words with TWO conv() calls — the
    64 bit-sums below are then branch-free shift/mask arithmetic per
    row. (Earlier variants: 64 repeated md5+substring evaluations, then
    16 per-nibble instr() probes — each bench-measurably slower.)"""
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("tok")
    )
    h = F.md5(F.col("tok"))
    return tok.select(
        "doc_id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("w0"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("w1"),
    )


def _sh_bitval(j: int) -> Column:
    """Bit (j%4) of hex nibble (j//4 + 1) out of the packed words: hex
    digit i is the (8-i)th nibble of w0 (digits 1-8) / (16-i)th of w1
    (digits 9-16) — most-significant digit first, matching substr()."""
    i = j // 4 + 1
    w = F.col("w0") if i <= 8 else F.col("w1")
    shift = 4 * ((8 if i <= 8 else 16) - i) + (j % 4)
    return F.shiftright(w, shift).bitwiseAND(F.lit(1))


def _sh_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, b0..b63): majority-vote fingerprint bits, session-cached
    (r10) — simhash and simhash_pairs both read the same fingerprint
    relation, and the 64-bit-sum aggregate is the expensive half of
    both keys."""
    from pubsub2bq_spark.tables import session_artifact

    return session_artifact(
        spark, "simhash_bits", sf_dir,
        lambda: materialize(_sh_bits_impl(spark, sf_dir)),
    )


def _sh_bits_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregate carries 64 branch-free bit sums + one count; the
    sign-of-sums vote sum(±1) > 0 is applied after as 2*s > n
    (identical majority)."""
    sums = [F.sum(_sh_bitval(j)).alias(f"s{j}") for j in range(_SIMHASH_BITS)]
    agg = (
        _sh_tok_spark(spark, sf_dir)
        .groupBy("doc_id")
        .agg(*sums, F.count(F.lit(1)).alias("ntok"))
    )
    return agg.select(
        "doc_id",
        *[
            F.when(2 * F.col(f"s{j}") > F.col("ntok"), 1).otherwise(0).alias(f"b{j}")
            for j in range(_SIMHASH_BITS)
        ],
    )


@register(
    "simhash",
    oracle=_simhash_sql(),
    doc="SimHash: 64-bit sign-of-sums fingerprint over the distinct token "
        "set (bit j = majority vote of bit j%4 of the tokens' md5 hex "
        "nibble j//4). 64 bits keep the fingerprint space sparse enough "
        "that equal-or-near fingerprints stay meaningful at corpus scale "
        "— see simhash_pairs for the Hamming-radius candidate join.",
    scale_notes="Fingerprint is one md5 + 64 conditional sums per token, "
                "all map-side partial aggregation; the shuffle carries "
                "(doc_id, 64 small ints) — never text. A 16-bit variant "
                "would collide everything at 100 TB (65k buckets); 64 "
                "bits give 1.8e19 and Hamming banding does the near-dup "
                "recall instead of raw collisions.",
)
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    bits = _sh_bits(spark, sf_dir)
    return bits.select(
        "doc_id",
        F.concat(
            *[F.col(f"b{j}").cast("string") for j in range(_SIMHASH_BITS)]
        ).alias("simhash"),
    )


@register(
    "simhash_pairs",
    oracle=f"""
        WITH {_SH_TOK_CTE}, {_sh_bits_cte()}, {_sh_fp_cte()},
        melted AS (
            SELECT doc_id, lo, hi, t.k,
                   ((CASE WHEN t.k < 4 THEN lo ELSE hi END)
                    >> (8 * (t.k % 4))) & 255 AS bv
            FROM fp, unnest(range(0, {_SH_BANDS})) AS t(k)
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.lo, b.lo))
                    + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
        FROM melted a
        JOIN melted b ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
              <= {_SH_RADIUS}
    """,
    doc=f"SimHash Hamming-radius near-dup pairs: the 64-bit fingerprint "
        f"split into {_SH_BANDS} 8-bit bands; docs within Hamming "
        f"distance <= {_SH_RADIUS} MUST share an exact band (pigeonhole), "
        "so the candidate join is a band equi-join — never all-pairs — "
        "and the exact distance filter (bit_count of xor on the packed "
        "halves) prunes band coincidences.",
    scale_notes="The melt emits 8 rows/doc of (band_idx, band_val, two "
                "bigints); the self-join shuffles on the band key, and "
                "hot bands (e.g. all-zero fingerprints from tiny docs) "
                f"over {_HOT_BUCKET_T} members are fragment-replicate "
                "salted (_salted_self_join). The distance check is "
                "two xor+popcounts — whole-stage codegen, no UDF. "
                "Candidates group on 8-bit band values (pigeonhole-"
                "complete at the radius), not on equal 16-bit "
                "fingerprints.",
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    bits = _sh_bits(spark, sf_dir)
    lo = sum(F.col(f"b{j}").cast("bigint") * F.lit(1 << j) for j in range(32))
    hi = sum(
        F.col(f"b{j}").cast("bigint") * F.lit(1 << (j - 32)) for j in range(32, 64)
    )
    fp = bits.select("doc_id", lo.alias("lo"), hi.alias("hi"))
    melted = fp.select(
        "doc_id",
        "lo",
        "hi",
        F.explode(F.array(*[F.lit(k) for k in range(_SH_BANDS)])).alias("k"),
    ).select(
        "doc_id",
        "lo",
        "hi",
        "k",
        F.expr(
            "shiftright(CASE WHEN k < 4 THEN lo ELSE hi END, 8 * (k % 4)) & 255"
        ).alias("bv"),
    ).transform(materialize)  # one fingerprint pass feeds both join sides
    pairs = _salted_self_join(melted, ["k", "bv"])
    ham = F.expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)")
    # Emit-on-FIRST-matching-band: near-identical pairs share most of the
    # 8 bands, so a plain band join emits each pair up to 8x and needs a
    # multi-million-row DISTINCT shuffle on a near-dup-dense corpus.
    # Requiring every EARLIER band to differ surfaces each pair exactly
    # once — dedup becomes a map-side filter, no second shuffle. The
    # earlier-band test is pure integer arithmetic on the fingerprint xor
    # (bitmask of matching bands vs a k-mask) — whole-stage codegen; a
    # lambda/array variant measured 8x slower over the 16M candidates.
    match_mask = " + ".join(
        f"(CASE WHEN shiftright({'lo' if k < 4 else 'hi'}_a"
        f" ^ {'lo' if k < 4 else 'hi'}_b, {8 * (k % 4)}) & 255 = 0"
        f" THEN {1 << k} ELSE 0 END)"
        for k in range(_SH_BANDS)
    )
    first_match = F.expr(f"(({match_mask}) & (shiftleft(1, k_a) - 1)) = 0")
    return (
        pairs.filter(first_match & (ham <= _SH_RADIUS))
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
    )


# Star rounds run in bursts of _STAR_ROUNDS_PER_TRY, each burst followed
# by an exact-finish attempt of at most _CLUSTER_MAX_ITERS two-hop
# rounds; _STAR_MAX_ROUNDS_TOTAL bounds the whole contraction (heights
# halve per round, so 32 rounds covers diameters past 2^32 —
# unreachable at any physical corpus size).
_CLUSTER_MAX_ITERS = 30
_STAR_ROUNDS_PER_TRY = 8
_STAR_MAX_ROUNDS_TOTAL = 32


def star_contraction_components(
    pairs: DataFrame, op_name: str = "dedup_clusters"
) -> DataFrame:
    """Connected components by alternating large-star/small-star edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14), finished by an exact min-label loop: the path
    connected_components takes for graphs above its driver bound. Same
    output as the driver-side union-find (asserted in
    tests/test_units.py).

    Why it wins at scale: plain min-label propagation needs one round
    per two hops of component DIAMETER (the image phash graph measured
    13 rounds at sf0.1); each star round instead HALVES tree heights —
    large-star hangs every larger neighbor directly onto the
    neighborhood minimum, small-star re-hangs the smaller ones — so the
    contracted graph reaches star form in O(log d) rounds, and both
    operations provably preserve the component partition (paper, Lemma
    1/2). The min-label finish over the contracted edges is exact and
    usually confirms convergence in its first round (changed == 0);
    correctness never rests on the star phase's early-stop heuristic.

    Cost shape per star round: two window-min passes (one shuffle sort
    each, keyed on the node id) + one distinct — no data-sized driver
    state, edges only shrink. One eager action per round; the edge
    count rides it as an observe() metric for the early-stop check."""
    from pyspark.sql import Observation, Window

    def large_star(e: DataFrame) -> DataFrame:
        # m(u) = min(N(u) ∪ {u}); emit (v, m(u)) for v ∈ N(u), v > u.
        # No distinct here: each undirected edge contributes exactly one
        # emission, and small_star's closing distinct dedupes the few
        # parallel (v, m) edges distinct u's can hang — one less shuffle
        # per round.
        bidir = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        m = F.least(
            F.min("dst").over(Window.partitionBy("src")), F.col("src")
        )
        return (
            bidir.withColumn("m", m)
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # Direct every edge to its smaller endpoint; m(u) = min(N(u));
        # emit (v, m) for v ∈ N(u) ∪ {u} \ {m}.
        directed = e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).filter(F.col("src") != F.col("dst"))
        withm = directed.withColumn(
            "m", F.min("dst").over(Window.partitionBy("src"))
        )
        re_hung = withm.filter(F.col("dst") != F.col("m")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        anchors = withm.select("src", F.col("m").alias("dst"))
        return re_hung.union(anchors).distinct()

    def finish(e: DataFrame, vertices: DataFrame) -> DataFrame | None:
        """Exact 2-hop min-label propagation over the contracted edges
        (components are preserved by both star operations — paper Lemma
        1/2), seeded with the full original vertex set. Near-star graphs
        take one adopting round + one changed==0 confirm. Returns None
        (instead of raising) when the round cap is hit — the caller
        resumes star contraction, so a graph the early-stop heuristic
        released too deep still terminates correctly. e is materialized
        each star round, so the doubled view is two cheap checkpoint
        reads — no eager action needed here."""
        bidir = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

        def hop(lbl: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
            neighbor_min = (
                bidir.join(lbl, bidir.src == lbl.doc_id)
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("label").alias("nlabel"))
            )
            return lbl.join(neighbor_min, "doc_id", "left").select(
                "doc_id",
                *carry,
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
            )

        labels = vertices.withColumn("label", F.col("doc_id"))
        for _ in range(_CLUSTER_MAX_ITERS):
            stepped = hop(
                hop(
                    labels.withColumn("label0", F.col("label")),
                    carry=("label0",),
                ),
                carry=("label0",),
            )
            obs = Observation()
            observed = stepped.observe(
                obs,
                F.count(F.when(F.col("label") != F.col("label0"), True)).alias(
                    "changed"
                ),
            ).drop("label0")
            labels = materialize(observed)
            if obs.get["changed"] == 0:
                return labels.select(
                    "doc_id", F.col("label").alias("cluster_id")
                )
        return None

    raw = pairs.select("src", "dst").transform(materialize)
    edges = raw.filter(F.col("src") != F.col("dst"))
    # Original vertex set, BEFORE the self-loop filter AND before
    # contraction rewires edges: a doc whose only pair is (x, x) must
    # still come out as its own singleton cluster — the same output
    # the driver-side union-find gives it — and the final labels must cover
    # every input vertex even as star rounds move it to the dst-only
    # side of the forest. Derived from the one materialized raw frame
    # and consumed once per finish seed — no eager action of its own.
    vertices = (
        raw.select(F.col("src").alias("doc_id"))
        .union(raw.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    prev_count: int | None = None
    rounds_done = 0
    while rounds_done < _STAR_MAX_ROUNDS_TOTAL:
        for _ in range(_STAR_ROUNDS_PER_TRY):
            obs = Observation()
            stepped = small_star(large_star(edges)).observe(
                obs, F.count(F.lit(1)).alias("n_edges")
            )
            edges = materialize(stepped)
            rounds_done += 1
            cur = obs.get["n_edges"]
            # Early-stop HEURISTIC only: once a round shrinks the edge
            # set by <5% the remaining contraction is usually a short
            # tail the exact 2-hop finish absorbs cheaper than more star
            # rounds (measured on the sf0.1 image graph: rounds 2-4
            # moved 19 of 4576 edges). Exactness never depends on it:
            # if the finish fails to converge (a graph can shed <5% of
            # its edges per round while still deep — e.g. a slow-
            # contracting path dwarfed by an attached star), the outer
            # loop resumes contraction and tries again.
            if prev_count is not None and prev_count - cur < 0.05 * prev_count:
                break
            prev_count = cur
        labels = finish(edges, vertices)
        if labels is not None:
            return labels
    raise RuntimeError(
        f"{op_name} did not converge within {_STAR_MAX_ROUNDS_TOTAL} star "
        f"rounds + {_CLUSTER_MAX_ITERS}-round finishes"
    )


def connected_components(pairs: DataFrame, op_name: str) -> DataFrame:
    """Connected components of the undirected (src, dst) pair graph:
    (doc_id, cluster_id) for every endpoint, labeled with its
    component's minimum doc_id; a vertex whose only pair is (x, x) is
    its own singleton. Shared by dedup_clusters and image_dedup_clusters.

    A graph of at most autoBroadcastJoinThreshold // 16 edges (two
    bigint endpoints per edge: 655,360 at the 10 MB default; a threshold
    <= 0 turns this path off) is fetched in one bounded job and solved
    on the driver by union-find whose roots are component minimums:
    near-dup graphs are that small, and every round of a distributed
    algorithm is a scheduler round trip (crossover measurements in
    docs/SCALING.md). A larger graph goes to star contraction."""
    import pandas as pd

    spark = pairs.sparkSession
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    bound = _size_bytes(threshold) // 16
    edges = fetch_rows(pairs.select("src", "dst"), bound) if bound > 0 else None
    if edges is None:
        return star_contraction_components(pairs, op_name)

    parent: dict = {}

    def find(v):
        root = v
        while parent[root] != root:
            root = parent[root]
        while parent[v] != root:  # path compression
            parent[v], v = root, parent[v]
        return root

    for src, dst in edges:
        parent.setdefault(src, src)
        parent.setdefault(dst, dst)
        a, b = find(src), find(dst)
        if a != b:
            parent[max(a, b)] = min(a, b)
    key = pairs.schema["src"].dataType.simpleString()
    return rows_frame(
        spark,
        pd.DataFrame({"doc_id": list(parent), "cluster_id": [find(v) for v in parent]}),
        f"doc_id {key}, cluster_id {key}",
    )


@register(
    "dedup_clusters",
    oracle=_minhash_sig_sql().replace("WITH", "WITH RECURSIVE", 1)
    + """
        , pairs AS (
            SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
            FROM (SELECT doc_id, unnest([band0, band1, band2, band3]) AS bk FROM banded) a
            JOIN (SELECT doc_id, unnest([band0, band1, band2, band3]) AS bk FROM banded) b
              ON a.bk = b.bk AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT src, dst FROM pairs
            UNION ALL
            SELECT dst AS src, src AS dst FROM pairs
        ),
        verts AS (SELECT DISTINCT src AS doc_id FROM edges),
        reach AS (
            SELECT doc_id, doc_id AS label FROM verts
            UNION
            SELECT e.dst AS doc_id, r.label
            FROM reach r JOIN edges e ON r.doc_id = e.src
        )
        SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
    """,
    doc="Connected components over the minhash_lsh candidate graph: every "
        "document in a near-dup component gets the component's minimum "
        "doc_id as cluster_id — the canonical-representative step that "
        "turns pairwise candidates into dedup groups. connected_components: "
        "union-find on the driver for a bounded edge set, star contraction "
        "above it; the oracle is a recursive-CTE transitive closure.",
    scale_notes="The candidate graph is tiny next to the corpus (31 edges "
                "at sf0.01), so it is fetched in one job capped at "
                "autoBroadcastJoinThreshold // 16 edges (655,360 at the "
                "default) and labeled by union-find on the driver; the "
                "labels return as an Arrow-built frame, no Python worker. "
                "A cold run is 13 Spark jobs at sf0.001, a warm one 3, "
                "with no iteration whose count depends on the data. "
                "Past the bound the same function runs large-star/"
                "small-star contraction (Kiveris et al. SoCC'14): O(log "
                "diameter) rounds of two window-min passes keyed on node "
                "id, edges only shrink, then an exact min-label finish — "
                "no driver state grows with the graph.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return connected_components(pairs, "dedup_clusters")


@register(
    "minhash_verified",
    oracle=_minhash_sig_sql()
    + """
        , cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM (SELECT doc_id, unnest([band0, band1, band2, band3]) AS bk FROM banded) a
            JOIN (SELECT doc_id, unnest([band0, band1, band2, band3]) AS bk FROM banded) b
              ON a.bk = b.bk AND a.doc_id < b.doc_id
        ),
        tokset AS (
            SELECT doc_id,
                   list_distinct(list_filter(
                       string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
            FROM documents
        )
        SELECT c.doc_a, c.doc_b,
               round(CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE)
                     / nullif(len(list_distinct(list_concat(ta.tok, tb.tok))), 0),
                     6) AS jaccard
        FROM cand c
        JOIN tokset ta ON ta.doc_id = c.doc_a
        JOIN tokset tb ON tb.doc_id = c.doc_b
        WHERE CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE)
              / nullif(len(list_distinct(list_concat(ta.tok, tb.tok))), 0) > 0.6
    """,
    doc="THE production dedup pipeline, composed end-to-end: MinHash-LSH "
        "candidate generation (cheap, recall-oriented) followed by exact "
        "token-set Jaccard verification (precision) — only pairs whose true "
        "similarity exceeds 0.6 survive. candidates ≫ verified is the "
        "expected shape; LSH false positives die at the verify stage.",
    scale_notes="The two-phase design is what makes 100 TB dedup tractable: "
                "the quadratic comparison only ever runs on LSH candidates "
                "(bounded per bucket), and verification joins token sets by "
                "doc_id — two hash joins keyed on doc id, no all-pairs "
                "anything. The verified pairs then feed dedup_clusters.",
)
def minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = minhash_lsh(spark, sf_dir)
    toks = fan_out(load(spark, sf_dir, "documents"), spark).select(
        "doc_id", F.array_distinct(_tokens(F.col("text"))).alias("tok")
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("tok").alias("tok_a"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok_b"))
    inter = F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b"))).cast("double")
    # nullif guard: pins 0/0 to NULL on both engines.
    union = F.nullif(
        F.size(F.array_distinct(F.concat(F.col("tok_a"), F.col("tok_b")))).cast("double"),
        F.lit(0.0),
    )
    jac = inter / union
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac > 0.6)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "dedup_keep_best",
    oracle="""
        WITH ranked AS (
            SELECT md5(lower(text)) AS text_hash, doc_id, length(text) AS n,
                   row_number() OVER (PARTITION BY md5(lower(text))
                                      ORDER BY length(text) DESC, doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY md5(lower(text))) AS n_copies
            FROM documents
        )
        SELECT text_hash, doc_id AS kept_doc_id, n_copies
        FROM ranked WHERE rn = 1
    """,
    doc="Quality-aware exact dedup: one survivor per content digest, "
        "chosen by a quality ordering (longest text, doc_id tie-break) "
        "instead of an arbitrary min — the 'keep best duplicate' policy "
        "a pretraining pipeline wants when near-identical pages differ "
        "in boilerplate.",
    scale_notes="Same single-shuffle profile as exact dedup: the window "
                "partitions on the digest, so rank + group count ride one "
                "exchange keyed on text_hash. Digest cardinality ~= doc "
                "count, so no skew; the quality ordering is computed "
                "map-side before the shuffle.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = fan_out(load(spark, sf_dir, "documents"), spark)
    h = F.md5(F.lower(F.col("text")))
    w = Window.partitionBy("text_hash")
    ranked = d.select(
        h.alias("text_hash"), "doc_id", F.length("text").alias("n")
    ).select(
        "text_hash",
        "doc_id",
        F.row_number()
        .over(w.orderBy(F.col("n").desc(), F.col("doc_id").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "text_hash", F.col("doc_id").alias("kept_doc_id"), "n_copies"
    )


@register(
    "dedup_corpus",
    # Composed from the registered dedup_clusters oracle (set right below,
    # after both keys exist in the registry).
    oracle=None,
    doc="The dedup pipeline's final emit: the cleaned corpus. Keeps every "
        "document that is either its cluster's canonical representative "
        "(doc_id == cluster_id) or in no near-dup cluster at all — i.e. "
        "documents minus non-canonical near-duplicates. This is the table "
        "a training run actually reads; candidates → verify → cluster → "
        "THIS.",
    scale_notes="One left-anti join of documents against the non-canonical "
                "cluster members — the cluster table is near-dup-sized "
                "(tiny vs the corpus), so the anti join broadcasts. Text "
                "is projected through untouched: the pipeline decides "
                "membership on digests and never reshuffles payload bytes "
                "until this single final join.",
)
def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = dedup_clusters(spark, sf_dir)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    d = load(spark, sf_dir, "documents")
    return d.join(F.broadcast(drop), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


def _dedup_corpus_oracle() -> str:
    from pubsub2bq_spark.registry import all_queries

    clusters = all_queries()["dedup_clusters"].oracle
    return f"""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE doc_id NOT IN (
            SELECT doc_id FROM ({clusters}) WHERE doc_id <> cluster_id
        )
    """


from pubsub2bq_spark.registry import all_queries as _aq  # noqa: E402

_aq()["dedup_corpus"].oracle = _dedup_corpus_oracle()


LEV_PREFIX = 64
LEV_MAX = 10
_LEV_KERNEL_CAP = 4096   # block members before fragment-pair salting
_LEV_SALT = 8            # fragments per over-cap block
_LEV_PAIR_CHUNK = 1_000_000  # pairs per vectorized Myers batch


def _myers_prep(heads):
    """Per-group preprocessing for the bit-parallel DP: lengths, the
    Peq character-mask table (one uint64 per (doc, char) — a <=64-char
    pattern fits one word), and text char codes.

    Vectorized (r15; the per-char Python loop was half the kernel):
    heads become a fixed-width codepoint matrix (numpy pads with \\x00 —
    real NULs are still distinguished by the length mask), char codes
    come from one np.unique + searchsorted (np.unique's codepoint sort
    IS Python's char sort), and Peq from two bincounts — each (doc,
    char) cell ORs distinct powers of two, so summation equals OR, and
    splitting at bit 32 keeps both float64 sums exact."""
    import numpy as np

    m = len(heads)
    lens = np.array([len(h) for h in heads], dtype=np.int64)
    maxlen = int(lens.max()) if m else 0
    width = max(maxlen, 1)
    arr = np.array(heads, dtype=f"U{width}")
    cp = arr.view(np.uint32).reshape(m, width).astype(np.int64)
    valid = np.arange(width)[None, :] < lens[:, None]
    uniq = np.unique(cp[valid]) if valid.any() else np.empty(0, np.int64)
    nc = max(len(uniq), 1)
    tcodes = np.searchsorted(uniq, cp)
    tcodes[~valid] = -1
    ii, pp = np.nonzero(valid)
    flat = ii * nc + tcodes[ii, pp]
    lo = np.bincount(
        flat,
        weights=np.where(pp < 32, np.float64(2.0) ** pp, 0.0),
        minlength=m * nc,
    )
    hi = np.bincount(
        flat,
        weights=np.where(pp >= 32, np.float64(2.0) ** (pp - 32), 0.0),
        minlength=m * nc,
    )
    peq = (
        (hi.astype(np.uint64) << np.uint64(32)) | lo.astype(np.uint64)
    ).reshape(m, nc)
    return lens, peq, tcodes, maxlen


def _myers_lev(prep, pa, pb):
    """Levenshtein for the pair index arrays (pa = pattern row, pb =
    text row), vectorized ACROSS PAIRS: bit-parallel DP (Myers, JACM
    1999, in Hyyrö's 2001 formulation) — each of the <=64 text steps
    is ~12 numpy word ops over the pair vector, never a 64x64 table."""
    import numpy as np

    lens, peq, tcodes, maxlen = prep
    one = np.uint64(1)
    pl, tl = lens[pa], lens[pb]
    score = pl.copy()
    pv = np.full(len(pa), ~np.uint64(0), dtype=np.uint64)
    mv = np.zeros(len(pa), dtype=np.uint64)
    bit = np.where(
        pl > 0, one << np.clip(pl - 1, 0, 63).astype(np.uint64), np.uint64(0)
    )
    tl_min = int(tl.min()) if len(tl) else 0
    for j in range(maxlen):
        if j < tl_min:
            # every pair still active (the dominant case: heads are
            # mostly full prefix length, r15) — skip the five
            # np.where/clip masks the ragged tail needs
            eq = peq[pa, tcodes[pb, j]]
            xv = eq | mv
            xh = (((eq & pv) + pv) ^ pv) | eq
            ph = mv | ~(xh | pv)
            mh = pv & xh
            score += ((ph & bit) != 0).astype(np.int64)
            score -= ((mh & bit) != 0).astype(np.int64)
            ph = (ph << one) | one
            mh = mh << one
            pv = mh | ~(xv | ph)
            mv = ph & xv
            continue
        active = j < tl
        tc = tcodes[pb, j]
        eq = np.where(
            active & (tc >= 0), peq[pa, np.maximum(tc, 0)], np.uint64(0)
        )
        xv = eq | mv
        xh = (((eq & pv) + pv) ^ pv) | eq
        ph = mv | ~(xh | pv)
        mh = pv & xh
        score = np.where(
            active,
            score
            + ((ph & bit) != 0).astype(np.int64)
            - ((mh & bit) != 0).astype(np.int64),
            score,
        )
        ph = (ph << one) | one
        mh = mh << one
        pv_n = mh | ~(xv | ph)
        mv_n = ph & xv
        pv = np.where(active, pv_n, pv)
        mv = np.where(active, mv_n, mv)
    return np.where(pl == 0, tl, score)  # empty pattern: lev = |text|


def _lev_block_kernel(pdf):
    """One pair-scope of edit_distance_pairs: a whole (lang, band)
    block (all rows side 0 — triangular, every i<j pair), or one
    fragment-pair group of an over-cap block (side 0 vs side 1 —
    full bipartite cross; fixed fragment assignments make the groups a
    partition of the block's pairs, so each unordered pair is scored
    exactly once). Emits every pair with lev <= LEV_MAX. The scoring
    mode comes from the explicit per-group ``cross`` column (s1 != s2,
    constant within a group; inferring cross from the
    presence of side==1 rows would silently re-score fragment s1's
    internal pairs as TRIANGULAR when a cross group arrives with its
    side-1 fragment empty, duplicating group (s1,s1)'s output)."""
    import numpy as np
    import pandas as pd

    empty = _empty_frame(
        (("doc_a", "int64"), ("doc_b", "int64"), ("lev", "int32"))
    )
    cross = bool(pdf["cross"].iloc[0])
    if cross:
        a_rows = pdf[pdf["side"] == 0]
        b_rows = pdf[pdf["side"] == 1]
        if a_rows.empty or b_rows.empty:
            return empty
        ids = np.concatenate(
            [
                a_rows["doc_id"].to_numpy(dtype=np.int64),
                b_rows["doc_id"].to_numpy(dtype=np.int64),
            ]
        )
        heads = [
            "" if h is None else str(h)
            for h in list(a_rows["head"]) + list(b_rows["head"])
        ]
        na = len(a_rows)
        prep = _myers_prep(heads)
        a_idx = np.arange(na)
        b_idx = np.arange(na, len(heads))
        # chunk the bipartite cross over pattern rows
        rows_per_chunk = max(1, _LEV_PAIR_CHUNK // max(len(b_idx), 1))
        chunks = [
            (
                np.repeat(a_idx[r0 : r0 + rows_per_chunk], len(b_idx)),
                np.tile(b_idx, min(rows_per_chunk, na - r0)),
            )
            for r0 in range(0, na, rows_per_chunk)
        ]
    else:
        m = len(pdf)
        if m < 2:
            return empty
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        heads = ["" if h is None else str(h) for h in pdf["head"].iloc[order]]
        prep = _myers_prep(heads)
        ii, jj = np.triu_indices(m, k=1)
        chunks = [
            (ii[c0 : c0 + _LEV_PAIR_CHUNK], jj[c0 : c0 + _LEV_PAIR_CHUNK])
            for c0 in range(0, len(ii), _LEV_PAIR_CHUNK)
        ]
    out_a, out_b, out_l = [], [], []
    for pa, pb in chunks:
        score = _myers_lev(prep, pa, pb)
        q = score <= LEV_MAX
        if q.any():
            ia, ib = ids[pa[q]], ids[pb[q]]
            out_a.append(np.minimum(ia, ib))
            out_b.append(np.maximum(ia, ib))
            out_l.append(score[q])
    if not out_a:
        return empty
    return pd.DataFrame(
        {
            "doc_a": np.concatenate(out_a),
            "doc_b": np.concatenate(out_b),
            "lev": np.concatenate(out_l).astype(np.int32),
        }
    )


@register(
    "edit_distance_pairs",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, lang, CAST(n_chars // 50 AS BIGINT) AS band,
                   substr(text, 1, {LEV_PREFIX}) AS head
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
               CAST(levenshtein(a.head, b2.head) AS INTEGER) AS lev
        FROM b a
        JOIN b b2 ON a.lang = b2.lang AND a.band = b2.band
                 AND a.doc_id < b2.doc_id
        WHERE levenshtein(a.head, b2.head) <= {LEV_MAX}
    """,
    doc=f"Blocked edit-distance near-dup pairs: Levenshtein over the "
        f"first {LEV_PREFIX} chars, candidates restricted to the same "
        f"(lang, length-band) block, threshold {LEV_MAX} — the character-"
        "level companion to the token-set (ngram_jaccard) and sketch "
        "(minhash/simhash) dedup family; both engines implement the same "
        "DP metric.",
    scale_notes="Pairs only form inside (lang, band) blocks and the "
                f"prefix cap bounds per-pair cost at {LEV_PREFIX} "
                "chars. The DP is bit-parallel since r11 (Myers JACM "
                "1999 / Hyyrö 2001): a 64-char pattern fits one uint64, "
                "so a pair costs ~12 word ops per text char instead of "
                "a 64×64 DP table, vectorized across pairs in Arrow "
                "kernels — one per block up to 4096 members, and "
                "FRAGMENT-PAIR groups (hash members into 8 fragments; "
                "each (s1,s2) group scores one bipartite cross) above "
                "that, so no task owns a whole m². The exploded "
                "self-join DNF'd the 32x probe past 9 minutes; the "
                "kernel completes it in 90s — the residual exponent is "
                "the block-quadratic PAIR VOLUME itself, which is this "
                "key's semantics: at 100 TB it runs as the verify stage "
                "AFTER a sketch pass (minhash_verified pattern) where "
                "candidates are output-sized, never as the candidate "
                "generator over raw blocks.",
)
def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    b = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 50).cast("bigint").alias("band"),
        F.substring("text", 1, LEV_PREFIX).alias("head"),
    ).transform(materialize)
    counts = b.groupBy("lang", "band").agg(F.count(F.lit(1)).alias("_n"))
    kernel_blocks = (
        counts.filter(F.col("_n") <= _LEV_KERNEL_CAP)
        .select("lang", "band")
        .withColumn("_kern", F.lit(True))
        .transform(materialize)
    )
    tagged = b.join(F.broadcast(kernel_blocks), ["lang", "band"], "left")
    schema = "doc_a bigint, doc_b bigint, lev int"
    dense = (
        tagged.filter(F.col("_kern").isNotNull())
        .select(
            "lang", "band", "doc_id", "head",
            F.lit(0).alias("side"), F.lit(False).alias("cross"),
        )
        .groupBy("lang", "band")
        .applyInPandas(_lev_block_kernel, schema)
    )
    # Over-cap blocks: FRAGMENT-PAIR decomposition — hash members into
    # _LEV_SALT fragments; group (s1, s2) holds fragment s1 as side 0
    # and fragment s2 as side 1 (s1 < s2, bipartite cross) or just
    # fragment s1 (s1 == s2, triangular). Fixed fragment assignments
    # partition the block's pairs, so the kernel scores each unordered
    # pair exactly once, and no single task owns the whole m^2 —
    # the same insurance the salted JOIN gave, minus its exploded
    # array-carrying pair rows.
    hot = (
        tagged.filter(F.col("_kern").isNull())
        .select("lang", "band", "doc_id", "head")
        .withColumn(
            "_s",
            F.pmod(F.xxhash64("doc_id"), F.lit(_LEV_SALT)).cast("int"),
        )
    )
    part0 = hot.withColumn(
        "_t", F.explode(F.sequence(F.col("_s"), F.lit(_LEV_SALT - 1)))
    ).select(
        "lang", "band", "doc_id", "head",
        F.col("_s").alias("s1"), F.col("_t").alias("s2"),
        F.lit(0).alias("side"),
        (F.col("_s") != F.col("_t")).alias("cross"),
    )
    part1 = (
        hot.filter(F.col("_s") > 0)
        .withColumn("_t", F.explode(F.sequence(F.lit(0), F.col("_s") - 1)))
        .select(
            "lang", "band", "doc_id", "head",
            F.col("_t").alias("s1"), F.col("_s").alias("s2"),
            F.lit(1).alias("side"),
            F.lit(True).alias("cross"),
        )
    )
    hot_out = (
        part0.unionByName(part1)
        .groupBy("lang", "band", "s1", "s2")
        .applyInPandas(_lev_block_kernel, schema)
    )
    return dense.unionByName(hot_out)


def _lev_pair_batches(it):
    """edit_verified's verify stage: each Arrow batch carries candidate
    pairs with both heads inline; score every pair once with the shared
    bit-parallel Myers/Hyyrö kernel and emit only (doc_a, doc_b, lev)
    rows under the threshold. Cost is PAIR-sized (one <=64-step DP per
    candidate, vectorized across the batch) — never block-quadratic."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        if not len(pdf):
            continue
        heads = [
            "" if h is None else str(h)
            for h in list(pdf["head_a"]) + list(pdf["head_b"])
        ]
        na = len(pdf)
        prep = _myers_prep(heads)
        score = _myers_lev(prep, np.arange(na), np.arange(na, 2 * na))
        q = score <= LEV_MAX
        if q.any():
            yield pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"].to_numpy(dtype=np.int64)[q],
                    "doc_b": pdf["doc_b"].to_numpy(dtype=np.int64)[q],
                    "lev": score[q].astype(np.int32),
                }
            )


@register(
    "edit_verified",
    oracle=_minhash_sig_sql()
    + f"""
        , cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM (SELECT doc_id, unnest([band0, band1, band2, band3]) AS bk FROM banded) a
            JOIN (SELECT doc_id, unnest([band0, band1, band2, band3]) AS bk FROM banded) b
              ON a.bk = b.bk AND a.doc_id < b.doc_id
        ),
        heads AS (
            SELECT doc_id, substr(text, 1, {LEV_PREFIX}) AS head
            FROM documents
        )
        SELECT c.doc_a, c.doc_b,
               CAST(levenshtein(ha.head, hb.head) AS INTEGER) AS lev
        FROM cand c
        JOIN heads ha ON ha.doc_id = c.doc_a
        JOIN heads hb ON hb.doc_id = c.doc_b
        WHERE levenshtein(ha.head, hb.head) <= {LEV_MAX}
    """,
    doc="The composed sketch→verify near-dup pipeline for EDIT DISTANCE: "
        "MinHash-LSH candidate generation (recall) "
        "followed by exact bit-parallel Levenshtein verification over "
        f"the first {LEV_PREFIX} chars (precision, threshold {LEV_MAX}) "
        "— the 100 TB headline for character-level dedup. "
        "edit_distance_pairs stays as the documented exact-stage key "
        "(length-band blocks, no sketch); minhash_verified is the "
        "token-set-Jaccard sibling of this composition.",
    scale_notes="The verify cost is CANDIDATE-sized, not block-"
                "quadratic: LSH bounds the pair count (banded join, "
                "salted hot buckets), the heads join is two hash joins "
                "keyed on doc_id moving 64-char prefixes, and the Myers "
                "kernel scores each pair once in ~12 word-ops per text "
                "char, vectorized across each Arrow batch. At 100 TB "
                "the sketch stage is the only corpus-sized pass.",
)
def edit_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = minhash_lsh(spark, sf_dir)
    heads = fan_out(load(spark, sf_dir, "documents"), spark).select(
        "doc_id", F.substring("text", 1, LEV_PREFIX).alias("head")
    )
    pairs = cand.join(
        heads.select(
            F.col("doc_id").alias("doc_a"), F.col("head").alias("head_a")
        ),
        "doc_a",
    ).join(
        heads.select(
            F.col("doc_id").alias("doc_b"), F.col("head").alias("head_b")
        ),
        "doc_b",
    )
    return pairs.mapInPandas(
        _lev_pair_batches, "doc_a bigint, doc_b bigint, lev int"
    )


@register(
    "canonical_dedup",
    oracle="""
        WITH canon AS (
            SELECT doc_id,
                   md5(lower(text)) AS raw_hash,
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                       AS canon_hash
            FROM documents
        ),
        groups AS (
            SELECT canon_hash,
                   count(*) AS n_docs,
                   count(DISTINCT raw_hash) AS n_raw_variants,
                   min(doc_id) AS keep_doc_id
            FROM canon GROUP BY canon_hash
        )
        SELECT canon_hash, n_docs, n_raw_variants, keep_doc_id,
               (n_raw_variants > 1) AS caught_by_canon
        FROM groups
    """,
    doc="Canonicalized exact dedup: digests computed over the NORMALIZED "
        "text (lowercase, punctuation/whitespace collapsed to single "
        "spaces, trimmed) so documents that differ only in formatting "
        "collapse into one group — caught_by_canon marks groups the "
        "plain digest (text_dedup) would have missed. The cheap "
        "normalization layer every corpus pipeline runs between exact "
        "and near-dup (minhash) dedup.",
    scale_notes="Normalization + both digests are one map pass (regex + "
                "md5, codegen'd); the shuffle carries two 32-char hashes "
                "per doc, never text — same envelope as text_dedup with "
                "a catch rate the n_raw_variants column makes auditable. "
                "The canonicalizer is the tuning surface (unicode NFKC, "
                "number masking) with zero plan change.",
)
def canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    lowered = F.lower(F.col("text"))
    canon = F.trim(F.regexp_replace(lowered, "[^a-z0-9]+", " "))
    hashed = d.select(
        "doc_id",
        F.md5(lowered).alias("raw_hash"),
        F.md5(canon).alias("canon_hash"),
    )
    return (
        hashed.groupBy("canon_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("raw_hash").alias("n_raw_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .select(
            "canon_hash",
            "n_docs",
            "n_raw_variants",
            "keep_doc_id",
            (F.col("n_raw_variants") > 1).alias("caught_by_canon"),
        )
    )


@register(
    "minhash_recall",
    # Quality harness for the dedup family — the ann_recall analog.
    # MinHash estimates SHINGLE-set Jaccard (sequence similarity), so
    # recall is measured against exact shingle-Jaccard truth (> 0.5,
    # blocked so truth stays near-linear); measuring it against
    # token-SET similarity would conflate two different notions —
    # template docs share vocabulary with near-zero shingle overlap.
    # Precision uses the pipeline's own verification contract
    # (token-set Jaccard > 0.6, as in minhash_verified).
    oracle=_minhash_sig_sql()
    + """
        , cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM (SELECT doc_id, unnest([band0, band1, band2, band3]) AS bk FROM banded) a
            JOIN (SELECT doc_id, unnest([band0, band1, band2, band3]) AS bk FROM banded) b
              ON a.bk = b.bk AND a.doc_id < b.doc_id
        ),
        tokset AS (
            SELECT doc_id,
                   list_distinct(list_filter(
                       string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
            FROM documents
        ),
        shset AS (
            SELECT t.doc_id, d.lang, d.source, d.n_chars,
                   list_distinct({shingles}) AS sh
            FROM toks t JOIN documents d USING (doc_id)
        ),
        struth AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM shset a JOIN shset b
              ON a.lang = b.lang AND a.source = b.source
             AND (a.n_chars // 100) = (b.n_chars // 100)
             AND a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / nullif(len(list_distinct(list_concat(a.sh, b.sh))), 0) > 0.5
        ),
        ver AS (
            SELECT c.doc_a, c.doc_b
            FROM cand c
            JOIN tokset ta ON ta.doc_id = c.doc_a
            JOIN tokset tb ON tb.doc_id = c.doc_b
            WHERE CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE)
                  / nullif(len(list_distinct(list_concat(ta.tok, tb.tok))), 0) > 0.6
        ),
        hit AS (
            SELECT t.doc_a FROM struth t
            JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
        ),
        counts AS (
            SELECT (SELECT count(*) FROM cand)   AS n_cand,
                   (SELECT count(*) FROM ver)    AS n_verified,
                   (SELECT count(*) FROM struth) AS n_truth_seq,
                   (SELECT count(*) FROM hit)    AS n_hit_seq
        )
        SELECT n_cand, n_verified, n_truth_seq, n_hit_seq,
               round(CAST(n_verified AS DOUBLE) / nullif(n_cand, 0), 4)
                   AS precision_true,
               round(CAST(n_hit_seq AS DOUBLE) / nullif(n_truth_seq, 0), 4)
                   AS recall_seq
        FROM counts
    """.format(shingles=_SHINGLES_SQL.replace("tok", "t.tok")),
    doc="Dedup candidate-quality harness (the ann_recall analog for the "
        "dedup family): one monitoring row — banded-LSH candidate count, "
        "the fraction surviving exact token-set Jaccard verification "
        "(precision of the LSH stage under the pipeline's own contract), "
        "and recall against exact SHINGLE-Jaccard truth (> 0.5, "
        "blocked), the quantity MinHash actually estimates. Measuring "
        "recall against token-SET similarity instead would conflate "
        "sequence and bag-of-words notions: template docs share "
        "vocabulary with near-zero shingle overlap and belong to "
        "ngram_jaccard's catchment, not LSH's.",
    scale_notes="Every relation here is candidate-volume-sized or "
                "blocked, never corpus-quadratic: shingle truth reuses "
                "ngram_jaccard's blocked-join shape, verification joins "
                "token sets by doc_id onto the candidate list, and the "
                "output is one row of counters — the shape of a dedup "
                "pipeline's continuous quality monitor at 100 TB.",
)
def minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = minhash_lsh(spark, sf_dir).transform(materialize)  # 3 consumers
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        (F.col("n_chars") / 100).cast("bigint").alias("len_band"),
        _tokens(F.col("text")).alias("tok"),
    ).transform(materialize)  # shset + both ver-join sides: one tokenize pass
    shset = toks.select(
        "doc_id", "lang", "source", "len_band",
        F.array_distinct(_shingles(F.col("tok"))).alias("sh"),
    ).transform(materialize)  # both truth self-join sides, one shingle pass
    sa, sb = shset.alias("a"), shset.alias("b")
    s_inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).cast("double")
    # nullif guards here and below: 0/0 on letter-free doc
    # pairs is NULL on Spark but NaN/inf on DuckDB; nullif on both sides
    # pins both engines to NULL → pair excluded.
    s_union = F.nullif(
        F.size(F.array_distinct(F.concat(F.col("a.sh"), F.col("b.sh")))).cast("double"),
        F.lit(0.0),
    )
    struth = sa.join(
        sb,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.len_band") == F.col("b.len_band"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).filter(s_inter / s_union > 0.5).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    tokset = toks.select(
        "doc_id", F.array_distinct(F.col("tok")).alias("tokd")
    )
    ta = tokset.select(F.col("doc_id").alias("doc_a"), F.col("tokd").alias("tok_a"))
    tb = tokset.select(F.col("doc_id").alias("doc_b"), F.col("tokd").alias("tok_b"))
    t_inter = F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b"))).cast("double")
    t_union = F.nullif(
        F.size(F.array_distinct(F.concat(F.col("tok_a"), F.col("tok_b")))).cast("double"),
        F.lit(0.0),
    )
    ver = cand.join(ta, "doc_a").join(tb, "doc_b").filter(t_inter / t_union > 0.6)
    hit = struth.join(cand, ["doc_a", "doc_b"])
    counts = (
        cand.agg(F.count(F.lit(1)).alias("n_cand"))
        .crossJoin(ver.agg(F.count(F.lit(1)).alias("n_verified")))
        .crossJoin(struth.agg(F.count(F.lit(1)).alias("n_truth_seq")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit_seq")))
    )
    return counts.select(
        "n_cand",
        "n_verified",
        "n_truth_seq",
        "n_hit_seq",
        F.expr(
            "round(CAST(n_verified AS DOUBLE) / nullif(n_cand, 0), 4)"
        ).alias("precision_true"),
        F.expr(
            "round(CAST(n_hit_seq AS DOUBLE) / nullif(n_truth_seq, 0), 4)"
        ).alias("recall_seq"),
    )


# --- Asymmetric n-gram containment -----------------------------------------
# Jaccard misses the "A is a paragraph of B" case: a short doc fully
# contained in a long one has tiny Jaccard but containment 1.0.
# Containment C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| is the metric
# contamination and quote-dedup policies threshold on (Broder 1997's
# resemblance/containment split). Candidate pairs come from RARE-gram
# blocking: only grams appearing in 2..CONT_DF_CAP docs propose pairs —
# discriminative by construction, and each proposes at most
# CONT_DF_CAP·(CONT_DF_CAP-1) ordered pairs, so candidates stay linear in
# corpus size while boilerplate grams (huge df) propose nothing. Exact
# containment is then computed ONLY on candidates via doc-keyed joins.
CONT_K = 8        # word-gram width (dup_passage's granularity)
CONT_DF_CAP = 4   # rare-gram blocking: df range [2, CAP] proposes pairs
CONT_TAU = 0.6    # report pairs with containment >= tau


@register(
    "containment_dedup",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               x -> x <> '') AS t
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(
                       list_slice(t, CAST(i AS INT), CAST(i AS INT) + {CONT_K} - 1),
                       ' ') AS gram
            FROM (
                SELECT doc_id, t,
                       unnest(generate_series(1, greatest(len(t) - {CONT_K} + 1, 0)))
                           AS i
                FROM toks
            )
        ),
        ng AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
            FROM grams GROUP BY doc_id
        ),
        rare AS (
            SELECT gram FROM grams
            GROUP BY gram
            HAVING count(*) BETWEEN 2 AND {CONT_DF_CAP}
        ),
        cand AS (
            SELECT DISTINCT ga.doc_id AS a, gb.doc_id AS b
            FROM grams ga
            JOIN rare r ON r.gram = ga.gram
            JOIN grams gb ON gb.gram = ga.gram AND gb.doc_id <> ga.doc_id
        ),
        shared AS (
            SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS n_shared
            FROM cand c
            JOIN grams ga ON ga.doc_id = c.a
            JOIN grams gb ON gb.doc_id = c.b AND gb.gram = ga.gram
            GROUP BY c.a, c.b
        )
        SELECT s.a AS doc_id, s.b AS container_doc,
               ng.n_grams, s.n_shared,
               round(CAST(s.n_shared AS DOUBLE) / ng.n_grams, 6) AS containment
        FROM shared s JOIN ng ON ng.doc_id = s.a
        WHERE CAST(s.n_shared AS DOUBLE) / ng.n_grams >= {CONT_TAU}
    """,
    doc=f"Asymmetric n-gram containment dedup: C(A→B) = |grams(A) ∩ "
        f"grams(B)| / |grams(A)| over distinct word {CONT_K}-grams — "
        "catches a document substantially QUOTED inside a larger one, "
        "which symmetric Jaccard dilutes away. Candidate pairs form only "
        f"through rare grams (document frequency 2..{CONT_DF_CAP}); exact "
        "containment is then computed on candidates alone and pairs with "
        f"C >= {CONT_TAU} are reported (directed: doc_id is the contained "
        "side). DOCUMENTED BLIND SPOT (the df-cap dual of semdedup's "
        "cell boundary): a passage duplicated into MORE than "
        f"{CONT_DF_CAP} documents pushes every shared gram's df past the "
        "cap, so those pairs propose no candidates here — by design, "
        "because mass-duplicated content is the exact-dedup tier's job "
        "(text_dedup / dedup_corpus catch verbatim copies at any "
        "multiplicity, and dup_passage flags the >=2-doc passages "
        "without pair enumeration); this operator targets the LOW-"
        "multiplicity quotation case those tiers miss.",
    scale_notes="Three bounded shuffles: the gram df aggregate (map-side "
                "combine absorbs hot boilerplate grams, which propose NO "
                "pairs by the df cap), the candidate distinct keyed on the "
                "pair, and the exact-count join chain keyed on doc id — "
                "cand⋈grams(a) fans out to |grams(a)| rows per pair and "
                "cand⋈grams(b) is a composite-key (doc, gram) sort-merge, "
                "so no all-pairs product ever forms and per-gram fanout is "
                f"capped at {CONT_DF_CAP}·({CONT_DF_CAP}-1) ordered pairs. "
                "At 100 TB, swap gram strings for xxhash64(gram) in both "
                "the df and count joins (8 bytes/gram on the wire) and "
                "keep the df cap fixed: candidate volume stays linear in "
                "documents, never quadratic. Raising the cap trades "
                "candidate volume (quadratic in the cap) for recall on "
                "higher-multiplicity quotes; past the cap, coverage is "
                "delegated to the exact tier (see the blind-spot note "
                "in the doc).",
)
def containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    toks = d.select("doc_id", _tokens(F.col("text")).alias("t"))
    n = F.size("t")
    # sequence(1, 0) would infer a DESCENDING step; short docs must yield
    # an empty array explicitly (same guard as dup_passage).
    starts = F.when(
        n >= CONT_K, F.sequence(F.lit(1), n - (CONT_K - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        toks.select("doc_id", "t", F.explode(starts).alias("i"))
        .select(
            "doc_id",
            F.array_join(F.slice(F.col("t"), F.col("i"), CONT_K), " ").alias("gram"),
        )
        .distinct()
        .transform(materialize)  # feeds df-agg, candidates, AND both count legs
    )
    ng = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    rare = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= CONT_DF_CAP))
        .select("gram")
    )
    # Every join below is big-big (grams, rare and ng all scale with the
    # corpus), so each carries an explicit MERGE hint: Catalyst's static
    # estimator assumes ~20-byte strings, sizes the gram table under the
    # broadcast threshold, and statically plans BROADCAST builds of the
    # full corpus gram relation — measured to OOM the 32x probe. The
    # hint pins sort-merge; AQE still downgrades any individual exchange
    # to a broadcast at runtime when the REAL size is small (the test-SF
    # fast path), which is the correct direction to adapt in.
    rg = grams.join(rare.hint("merge"), "gram")
    cand = (
        rg.alias("ga")
        .join(rg.alias("gb").hint("merge"), "gram")
        .filter(F.col("ga.doc_id") != F.col("gb.doc_id"))
        .select(
            F.col("ga.doc_id").alias("a"), F.col("gb.doc_id").alias("b")
        )
        .distinct()
        .transform(materialize)  # consumed by both sides of the count chain
    )
    shared = (
        cand.join(
            grams.alias("ga").hint("merge"), F.col("a") == F.col("ga.doc_id")
        )
        .join(
            grams.alias("gb").hint("merge"),
            (F.col("b") == F.col("gb.doc_id"))
            & (F.col("ga.gram") == F.col("gb.gram")),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    cont = F.col("n_shared").cast("double") / F.col("n_grams")
    return (
        shared.join(ng.hint("merge"), shared["a"] == ng["doc_id"])
        .filter(cont >= CONT_TAU)
        .select(
            F.col("a").alias("doc_id"),
            F.col("b").alias("container_doc"),
            "n_grams",
            "n_shared",
            F.round(cont, 6).alias("containment"),
        )
    )


# Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS
# algorithm): per-WINDOW minimum of rolling gram hashes. Unlike the
# min-k sketch (doc_fingerprint), winnowing is POSITIONAL: any substring
# shared by two documents of length >= WIN_GRAM + WIN_W - 1 chars is
# GUARANTEED to contribute at least one common fingerprint.
WIN_GRAM = 16     # rolling character-gram width
WIN_W = 8         # winnowing window (grams per window)
WIN_DF_CAP = 8    # fingerprints in more docs are boilerplate — dropped
WIN_MIN_SHARED = 3  # pair match threshold

_WIN_FPS_CTE = f"""
    winh AS (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(len(lower(text)) - {WIN_GRAM} + 2, 2)),
                   i -> md5(substr(lower(text), CAST(i AS INT), {WIN_GRAM}))) AS h
        FROM documents
    ),
    winfps AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(h) - {WIN_W} + 1, 1) + 1),
                   j -> list_min(list_slice(h, CAST(j AS INT),
                                            CAST(j AS INT) + {WIN_W} - 1)))) AS fp
        FROM winh
    )
"""


def _winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fps): the per-document winnowing fingerprint set —
    entirely map-side (gram hashing, window minima, distinct all happen
    inside one projection; document bodies never leave the scan task)."""
    d = fan_out(load(spark, sf_dir, "documents"), spark)
    low = d.select("doc_id", F.lower(F.col("text")).alias("t"))
    gram_positions = F.sequence(
        F.lit(1), F.greatest(F.length("t") - F.lit(WIN_GRAM - 1), F.lit(1))
    )
    hs = low.select(
        "doc_id",
        F.transform(
            gram_positions, lambda i: F.md5(F.substr(F.col("t"), i, F.lit(WIN_GRAM)))
        ).alias("h"),
    ).transform(materialize)
    # The materialize barrier above is CORRECTNESS-OF-COST, not style:
    # Catalyst's projection collapse would otherwise substitute the
    # whole gram-hash transform() into every window's slice() below —
    # len(text) md5 calls PER WINDOW instead of per document, an O(len²)
    # blowup that measured as a never-finishing straggler at sf0.1.
    window_starts = F.sequence(
        F.lit(1), F.greatest(F.size("h") - F.lit(WIN_W - 1), F.lit(1))
    )
    return hs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                window_starts,
                lambda j: F.array_min(F.slice(F.col("h"), j, F.lit(WIN_W))),
            )
        ).alias("fps"),
    )


@register(
    "winnow_fingerprint",
    oracle=f"""
        WITH {_WIN_FPS_CTE}
        SELECT doc_id,
               CAST(len(fp) AS BIGINT) AS n_fps,
               list_min(fp)            AS min_fp,
               list_max(fp)            AS max_fp
        FROM winfps
    """,
    doc=f"Winnowing document fingerprints (Schleimer et al. 2003, the "
        f"MOSS algorithm): rolling {WIN_GRAM}-char gram hashes, minimum "
        f"per {WIN_W}-gram window, distinct per document. Positional "
        "guarantee the min-k sketch (doc_fingerprint) lacks: any shared "
        f"substring of >= {WIN_GRAM + WIN_W - 1} chars yields a common "
        "fingerprint. Reported per doc: fingerprint count + min/max.",
    scale_notes="Map-side, no shuffle — gram hashing and the window "
                "minima are two pipelined projections over the scan "
                "separated by a materialize barrier (without it, "
                "Catalyst's projection collapse re-evaluates the whole "
                "gram transform per window — a measured O(len²) "
                "blowup); document bodies never shuffle. Expected "
                "fingerprint density is 2/(w+1) of gram positions, so "
                "the sketch is ~4x smaller than the gram stream before "
                "anything leaves the task.",
)
def winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _winnow_fps(spark, sf_dir).select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fps"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


@register(
    "winnow_matches",
    oracle=f"""
        WITH {_WIN_FPS_CTE},
        m AS (SELECT doc_id, unnest(fp) AS fp FROM winfps),
        df AS (SELECT fp, count(*) AS d FROM m GROUP BY fp),
        kept AS (SELECT m.doc_id, m.fp FROM m JOIN df USING (fp)
                 WHERE df.d <= {WIN_DF_CAP})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS n_shared
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {WIN_MIN_SHARED}
    """,
    doc=f"Winnowing overlap detection: documents sharing >= "
        f"{WIN_MIN_SHARED} window fingerprints (each witnessing a "
        f">= {WIN_GRAM + WIN_W - 1}-char shared substring), fingerprints "
        f"in > {WIN_DF_CAP} documents dropped as boilerplate. The "
        "local-overlap complement to minhash (global Jaccard) and "
        "simhash (global Hamming): detects copied PASSAGES, not just "
        "near-identical documents — the plagiarism/citation shape.",
    scale_notes=f"The df cap bounds every fingerprint bucket at "
                f"{WIN_DF_CAP} docs, so the self-join's per-bucket pair "
                f"work is <= C({WIN_DF_CAP},2) — no salting needed; "
                "boilerplate (the only source of hot buckets) is "
                "precisely what the cap drops. The df relation is "
                "corpus-scaled, hence the merge hint (the r8 static-"
                "mis-broadcast class); shuffles carry (fp, doc_id) "
                "pairs, never text.",
)
def winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        _winnow_fps(spark, sf_dir)
        .select("doc_id", F.explode("fps").alias("fp"))
        .transform(materialize)  # one fingerprint pass feeds df + the pair agg
    )
    # The df cap stays a separate partial-aggregated count (skew-safe:
    # a corpus-wide boilerplate fp combines map-side and is dropped
    # before anything collects it), but the PAIR step is restructured
    # (r15, guide §2.3/§2.4): the old fp-keyed SELF-JOIN sort-merged
    # 32-hex-char string keys and re-compared every bucket; each kept
    # bucket holds ≤ WIN_DF_CAP docs, so collecting the (sorted, capped)
    # doc list per fp and expanding its C(d,2) ordered pairs map-side
    # emits the identical (doc_a < doc_b) multiset with one fewer
    # token-scale exchange and no string-keyed join.
    df = m.groupBy("fp").agg(F.count(F.lit(1)).alias("d"))
    kept = m.join(
        df.filter(F.col("d") <= WIN_DF_CAP).hint("merge"), "fp"
    ).select("doc_id", "fp")
    docs = kept.groupBy("fp").agg(
        F.sort_array(F.collect_list("doc_id")).alias("docs")
    )
    pairs = docs.select(
        F.explode(
            F.flatten(
                F.transform(
                    "docs",
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("docs"), i + F.lit(2), F.size("docs")
                        ),
                        lambda y: F.struct(
                            x.alias("doc_a"), y.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WIN_MIN_SHARED)
    )
