"""Source/sink round trips + the bucketed-join no-exchange property."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from smartglass_ocr_spark import sources
from smartglass_ocr_spark.corpus import docs_to_df, generate_docs
from smartglass_ocr_spark.ops.storage import write_bucketed_table


def _span_sets(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in df.collect()
    }


def test_documents_roundtrip_parquet_json(spark, tmp_path):
    docs = docs_to_df(spark, generate_docs(n_docs=25, seed=19))
    want = _span_sets(docs)
    for fmt in ("parquet", "json"):
        p = str(tmp_path / fmt)
        sources.write_documents(docs, p, fmt=fmt)
        got = _span_sets(sources.read_documents(spark, p, fmt=fmt))
        assert got == want, fmt


def test_flat_roundtrip_csv_with_newlines(spark, tmp_path):
    flat = spark.createDataFrame(
        [(1, 'line one\nline "quoted" two'), (2, "plain, with comma"), (3, None)],
        sources.FLAT_SCHEMA,
    )
    for fmt in ("parquet", "json", "csv"):
        p = str(tmp_path / f"flat_{fmt}")
        sources.write_documents(flat, p, fmt=fmt)
        got = {r["doc_id"]: r["text"] for r in sources.read_flat_documents(spark, p, fmt=fmt).collect()}
        assert got == {1: 'line one\nline "quoted" two', 2: "plain, with comma", 3: None}, fmt


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    write_bucketed_table(li, "li_b", buckets=8, key="l_orderkey")
    write_bucketed_table(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"), "ord_b", buckets=8, key="l_orderkey"
    )
    joined = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert joined.count() > 0
    # and a groupBy on the bucket key also skips the exchange
    agg = spark.table("li_b").groupBy("l_orderkey").agg(F.sum("l_quantity"))
    plan2 = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2, plan2
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
