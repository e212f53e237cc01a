"""§2.4.I — UDF / UDAF / UDTF surface.

UDFs are the slow path (SURVEY §4): everything else in this engine is
JVM-side. These queries exist to prove the full Python-extension
surface with Arrow-vectorized transfer; each mirrors logic that IS
SQL-expressible so the oracle can check it exactly.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..etl.schemas import SENTINEL
from ..registry import query
from ..tables import Tables


@query(
    "udf_scalar_python",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           COALESCE(NULLIF(l_returnflag, 'N'), '{SENTINEL}') AS flag_sentinel
    FROM lineitem
    """,
)
def udf_scalar_python(spark, sf_dir):
    # E7 sentinel-default as a row-at-a-time Python UDF (reference
    # src/reward.rs:22-33). Kept deliberately tiny: this is the
    # 10-100x-slower path and exists only to prove the surface.
    @F.udf(returnType=T.StringType())
    def sentinelize(flag):
        if flag is None or flag == "N":
            return SENTINEL
        return flag

    t = Tables(spark, sf_dir)
    return t.lineitem.select(
        "l_orderkey", "l_linenumber", sentinelize("l_returnflag").alias("flag_sentinel")
    )


@query(
    "udf_pandas_vectorized",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
    FROM lineitem
    """,
)
def udf_pandas_vectorized(spark, sf_dir):
    # Arrow-batched scalar pandas UDF: numpy does the same IEEE double
    # ops as the JVM/DuckDB, so results match exactly.
    @pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    t = Tables(spark, sf_dir)
    return t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charged"),
    )


@query(
    "udaf_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_quantity) / COUNT(l_quantity), 6) AS mean_qty,
           SUM(l_quantity) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_grouped_agg(spark, sf_dir):
    # Grouped-aggregate pandas UDF (Arrow batch per group). sum/len on
    # integral-valued doubles is exact, so the oracle matches.
    @pandas_udf("double")
    def mean_qty(v: pd.Series) -> float:
        return float(v.sum() / v.count())

    @pandas_udf("double")
    def sum_qty(v: pd.Series) -> float:
        return float(v.sum())

    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.round(mean_qty("l_quantity"), 6).alias("mean_qty"),
        sum_qty("l_quantity").alias("sum_qty"),
    )


@query(
    "udtf_flatten",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
    """,
)
def udtf_flatten(spark, sf_dir):
    # Table-function surface (E5 generalization): one input row → N
    # output rows via applyInPandas. The built-in explode() is the
    # production path; this proves the arbitrary-Python variant.
    t = Tables(spark, sf_dir)

    def flatten(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            for tok in row["text"].split(" "):
                out.append((row["doc_id"], tok))
        return pd.DataFrame(out, columns=["doc_id", "token"])

    return (
        t.documents.select("doc_id", "text")
        .groupBy(F.col("doc_id") % 8)
        .applyInPandas(flatten, schema="doc_id long, token string")
    )


@query(
    "udtf_python_native",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    SELECT doc_id, ws[i + 1] AS token, CAST(i AS INT) AS pos
    FROM w, unnest(generate_series(0, len(ws) - 1)) AS g(i)
    """,
)
def udtf_python_native(spark, sf_dir):
    # The REAL Spark 4 Python UDTF surface (not an applyInPandas
    # emulation): a @udtf class registered as a table function and
    # invoked through SQL LATERAL — one input row fans out to N typed
    # rows with per-row state isolation. The built-in
    # posexplode(split()) is the production path for this particular
    # fan-out; this row proves the arbitrary-Python table-function
    # contract (the E5 explode generalized to any generator logic).
    from pyspark.sql.functions import udtf

    @udtf(returnType="token: string, pos: int")
    class Tokenize:
        def eval(self, text):
            # `is not None`, not truthiness: ''.split(' ') == [''] and
            # the oracle's string_split emits that one empty token too —
            # `if text:` would silently drop empty-string docs and
            # diverge from the oracle (latent until a corpus has one).
            if text is not None:
                for i, tok in enumerate(text.split(" ")):
                    yield tok, i

    t = Tables(spark, sf_dir)
    t.register_views()
    spark.udtf.register("tokenize_udtf", Tokenize)
    return spark.sql(
        """
        SELECT d.doc_id, tf.token, tf.pos
        FROM documents d, LATERAL tokenize_udtf(d.text) tf
        """
    )
