"""Value tests of the SQL-text expression builders.

The higher-order-function trees (folds, codebook argmins, winnowing,
bigram pairing, the simhash aggregate) are written as Spark SQL text
and built in one ``F.expr``/``selectExpr`` call.  These tests pin their
values, and that a tree built once by column name resolves against
whichever frame it is applied to.  The test names predate the SQL-text
builders, which replaced the per-module expression caches.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_dot_norm_memo_hits_and_values(spark):
    from akvorado_spark.operators.similarity import cosine, dot, norm

    c1 = dot("x", "y")
    df = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0], [1.0, 0.0])],
        "x array<double>, y array<double>, z array<double>",
    )
    row = df.select(
        c1.alias("d"),
        norm("x").alias("n"),
        dot("x", "z").alias("dz"),
        cosine("x", "y").alias("c"),
    ).first()
    assert row["d"] == pytest.approx(11.0)
    assert row["n"] == pytest.approx(np.sqrt(5.0))
    assert row["dz"] == pytest.approx(1.0)
    assert row["c"] == pytest.approx(11.0 / (np.sqrt(5.0) * 5.0))
    # the same by-name Column applied to a different frame with the
    # same column names resolves against THAT frame
    df2 = spark.createDataFrame(
        [([2.0, 0.0], [5.0, 7.0])], "x array<double>, y array<double>"
    )
    assert df2.select(c1.alias("d")).first()["d"] == pytest.approx(10.0)
    # a zero vector has no cosine (nullif guard), not a division error
    df3 = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], "x array<double>, y array<double>")
    assert df3.select(cosine("x", "y").alias("c")).first()["c"] is None


def test_lsh_sketch_memo_consistency(spark):
    from akvorado_spark.operators.similarity import _hyperplanes, lsh_sketch

    planes = _hyperplanes(4, 6, seed=7)
    rows = [(i, [float(i), 1.0, -float(i), 0.5]) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = [r["s"] for r in df.select(lsh_sketch("v", planes).alias("s")).orderBy("id").collect()]
    # the sketch is the sign bit of each plane's dot product, bit i ↔ plane i
    want = [
        sum(1 << i for i, p in enumerate(planes) if float(np.dot(v, p)) > 0)
        for _, v in rows
    ]
    assert got == want
    # different planes → a different sketch on the same vectors
    other = _hyperplanes(4, 6, seed=8)
    got2 = [r["s"] for r in df.select(lsh_sketch("v", other).alias("s")).orderBy("id").collect()]
    assert got2 != got


def test_simhash_noncanonical_hash_fn_not_memoized(spark):
    """simhash applies ``hash_fn`` once in a projection and votes over
    its bits in one SQL aggregate: results track the hash function."""
    from akvorado_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    fp_xx = {r["doc_id"]: r["simhash"] for r in simhash(docs, "text", "doc_id").collect()}
    # identical docs agree, different docs (generically) differ
    assert fp_xx[1] == fp_xx[2]

    custom = lambda c: F.abs(F.xxhash64(c, F.lit(99)))  # noqa: E731
    fp_c = {
        r["doc_id"]: r["simhash"]
        for r in simhash(docs, "text", "doc_id", hash_fn=custom).collect()
    }
    assert fp_c[1] == fp_c[2]
    assert fp_c != fp_xx  # the custom hash actually took effect

    # the fingerprint equals the per-bit vote rule computed in Python
    words = {1: "a b c", 3: "x y z"}
    for doc, text in words.items():
        hs = [
            r["h"]
            for r in spark.createDataFrame([(w,) for w in text.split()], "w string")
            .select(custom(F.col("w")).alias("h"))
            .collect()
        ]
        want = 0
        for i in range(64):
            if sum(1 if (h >> i) & 1 else -1 for h in hs) > 0:
                want |= 1 << i
        # Spark longs are signed: compare as two's-complement 64-bit
        assert fp_c[doc] & ((1 << 64) - 1) == want


def test_line_bucket_expr_memo(spark):
    from akvorado_spark.query.line import _bucket_col

    df = spark.createDataFrame(
        [(0, 1_000_000_000), (0, 1_599_999_999), (0, 1_600_000_000)],
        "__start_us long, us long",
    ).selectExpr("__start_us", "timestamp_micros(us) AS ts")
    got = [r["b"] for r in df.select(F.expr(_bucket_col("ts", 600_000_000)).alias("b")).collect()]
    assert got == [600_000_000, 1_200_000_000, 1_200_000_000]
    got15 = [r["b"] for r in df.select(F.expr(_bucket_col("ts", 900_000_000)).alias("b")).collect()]
    assert got15 == [900_000_000, 900_000_000, 900_000_000]


def test_bound_column_operand_never_cached(spark):
    """A tree built from column names carries no frame binding: built
    once, it evaluates against each frame it is applied to."""
    from akvorado_spark.operators.similarity import norm

    df1 = spark.createDataFrame([([3.0, 4.0],)], "bx array<double>")
    df2 = spark.createDataFrame([([6.0, 8.0],)], "bx array<double>")
    n = norm("bx")
    assert df1.select(n.alias("n")).first()["n"] == pytest.approx(5.0)
    assert df2.select(n.alias("n")).first()["n"] == pytest.approx(10.0)
    # qualified names resolve through the alias, as F.col reads them
    j = df1.alias("a").crossJoin(df2.alias("b"))
    assert j.select(norm("b.bx").alias("n")).first()["n"] == pytest.approx(10.0)


def test_pq_assignment_and_table_memo_hits(spark):
    """The codebook-parameterized trees (assignment argmin, ADC table)
    written as SQL text with the book as a literal array."""
    from akvorado_spark.operators.pq import _adc_table_sql, _assign_sql

    book = [[1, 2], [3, 4]]
    df = spark.createDataFrame(
        [([1, 2], [1, 1]), ([3, 5], [2, 0]), ([2, 3], [0, 1])],
        "sv array<int>, qv array<int>",
    )
    got = [r["c"] for r in df.select(F.expr(_assign_sql("sv", book)).alias("c")).collect()]
    # argmin of squared L2 against the book; [2,3] ties → lowest index
    assert got == [0, 1, 0]
    other = [[3, 5], [1, 2]]
    got2 = [r["c"] for r in df.select(F.expr(_assign_sql("sv", other)).alias("c")).collect()]
    assert got2 == [1, 0, 1]  # the book's values, not its shape, decide
    tables = [r["t"] for r in df.select(F.expr(_adc_table_sql("qv", book)).alias("t")).collect()]
    assert tables == [[3, 7], [2, 6], [2, 4]]  # ⟨q, codeword⟩ per code


def test_doc_bigrams_memo_keyed_on_key_fn_identity(spark):
    from akvorado_spark.operators.lm import doc_bigrams
    from akvorado_spark.operators.text import portable_word_hash

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "solo"), (3, "")], "doc_id long, text string"
    )
    plain = sorted(
        (r["doc_id"], r["w1"], r["w2"]) for r in doc_bigrams(df, "text", "doc_id").collect()
    )
    assert plain == [(1, "a", "b"), (1, "b", "c")]  # 0/1-token docs give no rows

    def key(w):
        return spark.createDataFrame([(w,)], "w string").select(
            portable_word_hash(F.col("w")).alias("k")
        ).first()["k"]

    keyed = sorted(
        (r["doc_id"], r["w1"], r["w2"])
        for r in doc_bigrams(df, "text", "doc_id", key_fn=portable_word_hash).collect()
    )
    assert keyed == sorted([(1, key("a"), key("b")), (1, key("b"), key("c"))])
    # a different key function gives its own keys
    upper = sorted(
        (r["w1"], r["w2"])
        for r in doc_bigrams(df, "text", "doc_id", key_fn=F.upper).collect()
    )
    assert upper == [("A", "B"), ("B", "C")]
