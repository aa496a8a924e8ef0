"""Property-based tests (hypothesis) for the engine's semantic kernels.

Spark round-trips are slow, so strategies are kept small; the point is
adversarial *shapes* (empty groups, ties, all-deleted, unicode), not
volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pubsub2bq_spark.streaming.reconcile import (
    SchemaMismatchError,
    project_to_sink_schema,
)

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

names = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=1, max_size=5, unique=True
)


class TestReconcileProperties:
    @given(topic_cols=names, extra=st.sampled_from(["zz1", "zz2"]))
    @settings(**SETTINGS)
    def test_projection_never_leaks_unknown_fields(self, spark, topic_cols, extra):
        """Whatever the topic schema is, a payload field outside it never
        reaches the sink."""
        topic = T.StructType([T.StructField(c, T.StringType()) for c in topic_cols])
        sink = topic
        payload_cols = topic_cols + [extra]
        row = tuple("v" for _ in payload_cols)
        df = spark.createDataFrame([row], ", ".join(f"{c} string" for c in payload_cols))
        out = project_to_sink_schema(df, topic, sink)
        assert extra not in out.columns
        assert out.columns == topic_cols

    @given(topic_cols=names)
    @settings(**SETTINGS)
    def test_any_missing_sink_column_halts(self, spark, topic_cols):
        """Dropping ANY topic column from the sink halts delivery."""
        topic = T.StructType([T.StructField(c, T.StringType()) for c in topic_cols])
        sink = T.StructType(topic.fields[:-1])  # drop the last topic column
        df = spark.createDataFrame(
            [tuple("v" for _ in topic_cols)], ", ".join(f"{c} string" for c in topic_cols)
        )
        try:
            project_to_sink_schema(df, topic, sink)
            assert False, "expected halt"
        except SchemaMismatchError as e:
            assert topic_cols[-1] in str(e)


class TestLatestPerKeyProperty:
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 3),        # key
                st.integers(0, 50),       # ts
                st.integers(0, 10_000),   # unique-ifier handled below
            ),
            min_size=1,
            max_size=30,
        )
    )
    @settings(**SETTINGS)
    def test_latest_per_key_matches_python_oracle(self, spark, rows):
        """Window-based last-writer-wins == brute-force python max()."""
        data = [(i, k, ts) for i, (k, ts, _) in enumerate(rows)]
        df = spark.createDataFrame(data, "event_id long, user_id long, ts long")
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
        got = {
            (r["user_id"], r["event_id"])
            for r in df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .collect()
        }
        expect = {}
        for eid, k, ts in data:
            if k not in expect or (ts, eid) > expect[k]:
                expect[k] = (ts, eid)
        assert got == {(k, eid) for k, (ts, eid) in expect.items()}


class TestPrivacyProperty:
    @given(
        rows=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 4)),  # (group, unit)
            min_size=1,
            max_size=25,
        ),
        threshold=st.integers(1, 4),
    )
    @settings(**SETTINGS)
    def test_every_emitted_group_meets_threshold(self, spark, rows, threshold):
        from pubsub2bq_spark.functions.privacy import threshold_gated_agg

        df = spark.createDataFrame(rows, "grp long, unit long")
        out = threshold_gated_agg(
            df, ["grp"], [F.count(F.lit(1)).alias("n")], "unit", threshold
        ).collect()
        emitted = {r["grp"] for r in out}
        truth = {}
        for g, u in rows:
            truth.setdefault(g, set()).add(u)
        assert emitted == {g for g, units in truth.items() if len(units) >= threshold}


class TestAvroCodecProperties:
    """Adversarial shapes for the pure-Python Avro wire codec
    (functions/avro_codec.py): arbitrary unicode + int32 payloads must
    round-trip bit-exactly, and arbitrary byte garbage must either
    decode cleanly or raise ValueError — never hang, loop, or emit a
    half-parsed record silently."""

    _avro_strings = st.text(max_size=40)  # any unicode, incl. '' and emoji
    _avro_ints = st.integers(min_value=-(2**31), max_value=2**31 - 1)

    @given(
        id_=_avro_ints, zipcode=_avro_ints,
        first=_avro_strings, last=_avro_strings, email=_avro_strings,
        city=_avro_strings, country=_avro_strings, deleted=_avro_strings,
    )
    @settings(**{**SETTINGS, "max_examples": 60})
    def test_record_round_trip(self, id_, zipcode, first, last, email,
                               city, country, deleted):
        from pubsub2bq_spark.functions.avro_codec import (
            decode_record,
            encode_record,
        )

        rec = {
            "id": id_, "first_name": first, "last_name": last,
            "email": email, "zipcode": zipcode, "city": city,
            "country": country, "__deleted": deleted,
        }
        assert decode_record(encode_record(rec)) == rec

    @given(garbage=st.binary(max_size=64))
    @settings(**{**SETTINGS, "max_examples": 120})
    def test_garbage_never_crashes_uncontrolled(self, garbage):
        from pubsub2bq_spark.functions.avro_codec import decode_record

        try:
            decode_record(garbage)
        except ValueError:
            # The one allowed failure mode (UnicodeDecodeError — bad UTF-8
            # inside a declared string span — is a ValueError subclass).
            pass

    @given(n=st.integers(min_value=-(2**63), max_value=2**63 - 1))
    @settings(**{**SETTINGS, "max_examples": 80})
    def test_long_round_trip_full_64bit_range(self, n):
        from pubsub2bq_spark.functions.avro_codec import decode_long, encode_long

        out = bytearray()
        encode_long(n, out)
        got, pos = decode_long(bytes(out), 0)
        assert got == n and pos == len(out)


class TestRound8Kernels:
    """Pure-Python / DuckDB-side properties of the round-8 kernels —
    no Spark round-trip, so the strategies can run more examples."""

    @given(
        st.lists(
            st.integers(min_value=-10**15, max_value=10**15),
            min_size=2,
            max_size=16,
        ).filter(lambda w: any(w))
    )
    @settings(max_examples=60, deadline=None)
    def test_pca_rescale_pins_max_abs_to_quantum(self, w):
        """The max-abs rescale step maps the largest |w| to exactly
        the quantum (floor(±1.0 * QV) = ±QV), so iterated vectors can
        neither blow up nor vanish."""
        import math

        from pubsub2bq_spark.operators.ml_ops import PCA_QV

        m = max(max(abs(x) for x in w), 1)
        v = [int(math.floor(float(x) / float(m) * float(PCA_QV))) for x in w]
        assert max(abs(x) for x in v) == PCA_QV
        assert all(-PCA_QV <= x <= PCA_QV for x in v)

    @given(
        st.lists(
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd"]),
                min_size=0,
                max_size=12,
            ),
            min_size=1,
            max_size=8,
        )
    )
    @settings(max_examples=25, deadline=None)
    def test_paragraph_dedup_oracle_invariants(self, docs):
        """The registered oracle itself, over generated corpora with a
        tiny alphabet (forcing chunk collisions): kept chunks == distinct
        chunks corpus-wide, every doc emits a row, and nothing keeps more
        than it had."""
        import duckdb
        import pandas as pd

        from pubsub2bq_spark.registry import all_queries

        pdf = pd.DataFrame(
            {
                "doc_id": range(len(docs)),
                "text": [" ".join(words) for words in docs],
            }
        )
        con = duckdb.connect()
        con.register("documents", pdf)
        out = con.execute(all_queries()["paragraph_dedup"].oracle).fetchdf()
        con.close()
        assert len(out) == len(docs)
        assert (out["n_kept"] <= out["n_chunks"]).all()
        # distinct-chunk accounting: total kept == number of distinct
        # chunks (every distinct chunk kept exactly once, corpus-wide)
        from pubsub2bq_spark.operators.data_selection import PARA_W

        def chunks(words):
            toks = [w for w in words if w]
            if not toks:
                return [""]
            return [
                " ".join(toks[i : i + PARA_W])
                for i in range(0, len(toks), PARA_W)
            ]

        distinct = {c for words in docs for c in chunks(words)}
        assert int(out["n_kept"].sum()) == len(distinct)

    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["en", "de", "zh"]),
                st.sampled_from(["s0", "s1"]),
                st.lists(
                    st.sampled_from(["aa", "bb", "cc", ""]),
                    min_size=0,
                    max_size=8,
                ),
            ),
            min_size=1,
            max_size=10,
        )
    )
    @settings(max_examples=25, deadline=None)
    def test_dsir_oracle_invariants(self, rows):
        """DSIR oracle over generated corpora: docs with no alphabetic
        tokens drop out (both engines derive docs from the word explode),
        per-source selection respects the budget, weights are finite."""
        import math

        import duckdb
        import pandas as pd

        from pubsub2bq_spark.operators.data_selection import DSIR_KEEP
        from pubsub2bq_spark.registry import all_queries

        pdf = pd.DataFrame(
            {
                "doc_id": range(len(rows)),
                "lang": [r[0] for r in rows],
                "source": [r[1] for r in rows],
                "text": [" ".join(r[2]) for r in rows],
            }
        )
        con = duckdb.connect()
        con.register("documents", pdf)
        out = con.execute(all_queries()["dsir_select"].oracle).fetchdf()
        con.close()
        with_tokens = sum(1 for r in rows if any(w for w in r[2]))
        assert len(out) == with_tokens
        assert all(math.isfinite(w) for w in out["weight"])
        if len(out):
            per_src = out[out["selected"]].groupby("source").size()
            assert (per_src <= DSIR_KEEP).all()

    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["s0", "s1"]),
                st.lists(
                    st.sampled_from(["aa", "bb", "cc"]),
                    min_size=0,
                    max_size=9,
                ),
            ),
            min_size=1,
            max_size=10,
        )
    )
    @settings(max_examples=25, deadline=None)
    def test_boilerplate_oracle_invariants(self, rows):
        """Boilerplate oracle: every doc emits one row, boilerplate
        count bounded by chunk count, and a chunk unique to one doc of
        a source is never stripped from its clean text."""
        import duckdb
        import pandas as pd

        from pubsub2bq_spark.registry import all_queries

        pdf = pd.DataFrame(
            {
                "doc_id": range(len(rows)),
                "source": [r[0] for r in rows],
                "text": [" ".join(r[1]) for r in rows],
            }
        )
        con = duckdb.connect()
        con.register("documents", pdf)
        out = con.execute(all_queries()["boilerplate_remove"].oracle).fetchdf()
        con.close()
        assert len(out) == len(rows)
        assert (out["n_boiler"] <= out["n_chunks"]).all()
        # the promised property: a chunk unique to one doc within its
        # source (df == 1) is never stripped from that doc's clean text
        from collections import Counter

        from pubsub2bq_spark.operators.data_selection import (
            BP_MIN_DOCS,
            BP_W,
        )

        def chunk_list(words):
            toks = [w for w in words if w]
            if not toks:
                return [""]
            return [
                " ".join(toks[i : i + BP_W])
                for i in range(0, len(toks), BP_W)
            ]

        df_count: Counter = Counter()
        per_doc = {}
        for doc_id, (src, words) in enumerate(rows):
            cl = chunk_list(words)
            per_doc[doc_id] = (src, cl)
            for c in set(cl):
                df_count[(src, c)] += 1
        by_id = out.set_index("doc_id")
        for doc_id, (src, cl) in per_doc.items():
            clean = by_id.loc[doc_id, "clean_text"]
            expected = [
                c for c in cl if df_count[(src, c)] < BP_MIN_DOCS
            ]
            assert clean == " ".join(expected)
