"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship kNN query on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 +
north-star extensions); each callable is (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query.

Float discipline for the oracle hash-match: every computed float column
is rounded on BOTH sides (engine + SQL) after all ordering/ranking is
done on the unrounded value, and ``+ 0.0`` normalizes −0.0. All vector
distance math accumulates in FP64 in both engines, so rounded values
agree exactly.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from faiss_metal_spark.functions.text import (  # noqa: E402
    avg_token_len,
    distinct_token_ratio,
    quality_score,
    token_count,
)
from faiss_metal_spark.functions.text import (  # noqa: E402
    BPE_PATTERN,
    LANG_MARKERS,
    bpe_token_count,
    doc_fingerprint,
    lang_id,
    winnow_fingerprints,
)
from faiss_metal_spark.operators.dedup import (  # noqa: E402
    connected_components,
    embedding_neardup_pairs,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    simhash_signatures,
)
from faiss_metal_spark.operators.knn import knn_search  # noqa: E402
from faiss_metal_spark.operators.multimodal import (  # noqa: E402
    attach_audio_payload,
    attach_image_payload,
    attach_payload,
    byte_stats,
    decode_audio,
    decode_image,
    sample_frames,
)
from faiss_metal_spark.operators.similarity import (  # noqa: E402
    ann_lsh_search,
    ivf_assign,
    ivf_search,
    ivf_train_centroids,
    knn_join_blocked,
    lsh_planes,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the DuckDB oracle computes on naive timestamps; session-tz-dependent
    # functions (date_trunc/date_format on LTZ) must agree regardless of
    # the driver session's locale
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table; some sf levels store ts as TIMESTAMP(NANOS), which
    Spark only reads as long via the legacy conf — normalize to a real
    timestamp column either way."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _t(spark, sf_dir, "events")
    if dict(df.dtypes)["ts"] in ("bigint", "long"):
        # integer div, not float: float division rounds the microsecond
        # while nanos→micros must truncate (what TIMESTAMP readers do)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _norm(col, digits: int):
    """Round a computed float for hash-stable comparison; kill −0.0."""
    return F.round(col, digits) + F.lit(0.0)


def _local_queries(spark: SparkSession, qpdf) -> DataFrame:
    """LocalRelation query batch from a collected (qid, vec) pandas
    frame (the toPandas→createDataFrame roundtrip the r14 lane folds
    use), built by the library's own query builder: explicit ``qid
    long, vec array<float>`` schema over plain-list cells. The batch —
    and so every distance lane — is then identical whether or not the
    session converts through Arrow, and whether ``vec`` came back as
    float32 arrays (Arrow collect) or Python lists (row collect)."""
    from faiss_metal_spark.compact_index import _query_df

    return _query_df(spark, list(qpdf["vec"]), qid=qpdf["qid"])


# ---------------------------------------------------------------------------
# kNN queries (the reference's core operator, SURVEY §2.3-2.5)
# ---------------------------------------------------------------------------


def _knn_query(metric: str, qlo: int, qhi: int, k: int, method: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = _t(spark, sf_dir, "embeddings")
        queries = emb.where((F.col("vec_id") >= qlo) & (F.col("vec_id") < qhi))
        # compute="f64" pins DuckDB-oracle hash-grade exactness; the
        # library DEFAULT is f32 accumulators (the reference's width —
        # the fast path benched by BENCH_GRID's fp32 keys)
        res = knn_search(
            emb, queries, k, metric=metric, method=method,
            id_col="vec_id", vec_col="embedding",
            qid_col="vec_id", qvec_col="embedding",
            compute="f64",
        )
        return res.select(
            "qid", "rank", "label", _norm(F.col("distance"), 4).alias("distance")
        )

    return run


def q_knn_highk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k>32 selection plus hybrid filtered search, tagged: 'highk' rows
    are the k=64 gemm-path case (§2.4's warning case, value-checked);
    'filtered' rows are metadata-predicate kNN — the corpus is
    restricted to label ∈ {1, 3} BEFORE search, so the predicate prunes
    the scan (Catalyst pushes it into the parquet reader under the
    mapInPandas stage) and every result honors the filter."""
    emb = _t(spark, sf_dir, "embeddings")
    highk = _knn_query("l2", 0, 4, 64, "gemm")(spark, sf_dir).select(
        F.lit("highk").alias("kind"), "qid", "rank", "label", "distance"
    )
    queries = emb.where(F.col("vec_id") < 4)
    res = knn_search(
        emb.where(F.col("label").isin(1, 3)), queries, 10,
        metric="l2", method="gemm",
        id_col="vec_id", vec_col="embedding",
        qid_col="vec_id", qvec_col="embedding",
        compute="f64",  # oracle hash-exactness (library default: f32)
    )
    filt = res.select(
        F.lit("filtered").alias("kind"), "qid", "rank", "label",
        _norm(F.col("distance"), 4).alias("distance"),
    )
    return highk.unionByName(filt)


def _oracle_knn_highk_filtered() -> str:
    return """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 4
), d AS (
  SELECT q.qid, v.vec_id AS label, v.label AS vlabel,
         GREATEST(list_inner_product(q.qv::DOUBLE[], q.qv::DOUBLE[])
           + list_inner_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[])
           - 2 * list_inner_product(q.qv::DOUBLE[], v.embedding::DOUBLE[]), 0.0) AS dist
  FROM q CROSS JOIN embeddings v
), r AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM d
), r2 AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM d WHERE vlabel IN (1, 3)
)
SELECT 'highk' AS kind, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM r WHERE rank < 64
UNION ALL
SELECT 'filtered', CAST(qid AS BIGINT), CAST(rank AS INTEGER),
       CAST(label AS BIGINT), ROUND(dist, 4) + 0.0
FROM r2 WHERE rank < 10
"""


def q_knn_l2_sql_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative-path family in one tagged result: 'knn' rows are
    sql-path top-10 L2 (rank 0..9); 'rng_sql' and 'rng_gemm' rows are
    FAISS range_search (radius 1.3, strict <, rank −1) on BOTH physical
    paths — the two plans must emit the identical pair set, and the
    oracle checks them against the same SQL filter. range_search is a
    strict-superset op: the reference inherits faiss::Index::range_search
    but never overrides it."""
    from faiss_metal_spark.operators.knn import range_search

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where((F.col("vec_id") >= 8) & (F.col("vec_id") < 16))
    knn = _knn_query("l2", 8, 16, 10, "sql")(spark, sf_dir).select(
        F.lit("knn").alias("kind"), "qid", "rank", "label", "distance"
    )

    def rng(method: str) -> DataFrame:
        r = range_search(
            emb, queries, radius=1.3, metric="l2", method=method,
            id_col="vec_id", vec_col="embedding",
            qid_col="vec_id", qvec_col="embedding",
            compute="f64",  # oracle hash-exactness (library default: f32)
        )
        return r.select(
            F.lit(f"rng_{method}").alias("kind"),
            "qid",
            F.lit(-1).alias("rank"),
            "label",
            _norm(F.col("distance"), 4).alias("distance"),
        )

    return knn.unionByName(rng("sql")).unionByName(rng("gemm"))


def _oracle_knn_l2_sql_range() -> str:
    return """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id >= 8 AND vec_id < 16
), d AS (
  SELECT q.qid, v.vec_id AS label,
         GREATEST(list_inner_product(q.qv::DOUBLE[], q.qv::DOUBLE[])
           + list_inner_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[])
           - 2 * list_inner_product(q.qv::DOUBLE[], v.embedding::DOUBLE[]), 0.0) AS dist
  FROM q CROSS JOIN embeddings v
), r AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM d
), rng AS (
  SELECT CAST(qid AS BIGINT) AS qid, CAST(-1 AS INTEGER) AS rank,
         CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
  FROM d WHERE dist < 1.3
)
SELECT 'knn' AS kind, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM r WHERE rank < 10
UNION ALL SELECT 'rng_sql', * FROM rng
UNION ALL SELECT 'rng_gemm', * FROM rng
"""


def _knn_oracle(metric: str, qlo: int, qhi: int, k: int) -> str:
    ip = (
        "list_inner_product(q.qv::DOUBLE[], v.embedding::DOUBLE[])"
    )
    if metric == "l2":
        dist = (
            "GREATEST(list_inner_product(q.qv::DOUBLE[], q.qv::DOUBLE[])"
            " + list_inner_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[])"
            f" - 2 * {ip}, 0.0)"
        )
        order = "dist ASC, label ASC"
    elif metric == "l1":
        dist = (
            "list_sum([abs(x[1] - x[2]) FOR x IN "
            "list_zip(q.qv::DOUBLE[], v.embedding::DOUBLE[])])"
        )
        order = "dist ASC, label ASC"
    elif metric == "ip":
        dist = ip
        order = "dist DESC, label ASC"
    else:  # cosine similarity
        dist = "list_cosine_similarity(q.qv::DOUBLE[], v.embedding::DOUBLE[])"
        order = "dist DESC, label ASC"
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id >= {qlo} AND vec_id < {qhi}
), d AS (
  SELECT q.qid, v.vec_id AS label, {dist} AS dist
  FROM q CROSS JOIN embeddings v
), r AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY {order}) - 1 AS rank
  FROM d
)
SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM r WHERE rank < {k}
"""


# ---------------------------------------------------------------------------
# TPC-H-style relational queries (Catalyst-native: joins, aggs, windows)
# ---------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "2000-12-01")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _norm(F.sum("l_quantity"), 2).alias("sum_qty"),
            _norm(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            _norm(F.sum(disc), 2).alias("sum_disc_price"),
            _norm(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            _norm(F.avg("l_quantity"), 4).alias("avg_qty"),
            _norm(F.avg("l_extendedprice"), 4).alias("avg_price"),
            _norm(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
  ROUND(SUM(l_quantity), 2) + 0.0 AS sum_qty,
  ROUND(SUM(l_extendedprice), 2) + 0.0 AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) + 0.0 AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) + 0.0 AS sum_charge,
  ROUND(AVG(l_quantity), 4) + 0.0 AS avg_qty,
  ROUND(AVG(l_extendedprice), 4) + 0.0 AS avg_price,
  ROUND(AVG(l_discount), 6) + 0.0 AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-01-01")
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-01-01")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(rev.alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            _norm(F.col("_rev"), 2).alias("revenue"),
        )
    )


ORACLE_Q3 = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       ROUND(rev, 2) + 0.0 AS revenue
FROM (
  SELECT o_orderkey, o_orderdate,
         SUM(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY o_orderkey, o_orderdate
  ORDER BY rev DESC, o_orderkey ASC LIMIT 10
)
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H multi-join decision-support family, tagged by shape
    (adapted to the synthetic dimension values — NATION_i etc.):
    'q5' local-supplier volume (region-gated 6-table join), 'q7'
    volume shipping between a nation pair (bidirectional pair filter,
    ship-year rollup), 'q8' national market share (conditional share
    of a region's volume per order-year), 'q9' product-type profit by
    nation and order-year (partsupp is absent from the synthetic
    schema, so profit = revenue — the join/rollup shape is q9's),
    'q4' order-priority count gated by EXISTS over lineitem (the
    returned-line flag stands in for commitdate<receiptdate, absent
    from the synthetic schema), 'q13' customer order-count
    distribution (filtered LEFT OUTER join — the filter lives in the
    join condition so zero-order customers survive), 'q16'
    distinct-supplier count per part attribute with a NOT-IN
    complaint-supplier exclusion (lineitem stands in for partsupp),
    'q21' suppliers who solely flagged a multi-supplier F-order
    (EXISTS other participant + NOT EXISTS other flagger).
    Uniform schema (shape, k1, k2, yr, val)."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    o5 = o.where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    def row(shape, k1, k2, yr, val):
        return [
            F.lit(shape).alias("shape"),
            k1.alias("k1"),
            k2.alias("k2"),
            yr.cast("long").alias("yr"),
            val.alias("val"),
        ]

    q5 = (
        l.join(o5, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_norm(F.sum(rev), 2).alias("revenue"))
        .select(*row("q5", F.col("n_name"), F.lit(None).cast("string"),
                     F.lit(None), F.col("revenue")))
    )
    # q7: bidirectional nation-pair volume by ship year
    ns = n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    nc = n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    q7 = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("ck"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_norm(F.sum(rev), 2).alias("revenue"))
        .select(*row("q7", F.col("supp_nation"), F.col("cust_nation"),
                     F.col("l_year"), F.col("revenue")))
    )
    # q8: NATION_5's share of ASIA's ECONOMY-part volume per order year
    n2r = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")).select(
        F.col("n_nationkey").alias("ck")
    )
    ns8 = n.select(F.col("n_nationkey").alias("sk8"), F.col("n_name").alias("nat8"))
    q8 = (
        l.join(F.broadcast(p.where(F.col("p_type") == "ECONOMY")),
               F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2r), F.col("c_nationkey") == F.col("ck"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns8), F.col("s_nationkey") == F.col("sk8"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            _norm(
                F.sum(F.when(F.col("nat8") == "NATION_5", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("mkt_share")
        )
        .select(*row("q8", F.lit(None).cast("string"), F.lit(None).cast("string"),
                     F.col("o_year"), F.col("mkt_share")))
    )
    # q9: profit by supplier nation and order year over a part-name slice
    q9 = (
        l.join(F.broadcast(p.where(F.col("p_name").like("%1%"))),
               F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name"), F.year("o_orderdate").alias("o_year"))
        .agg(_norm(F.sum(rev), 2).alias("profit"))
        .select(*row("q9", F.col("n_name"), F.lit(None).cast("string"),
                     F.col("o_year"), F.col("profit")))
    )
    # q4: priority counts over a date window, EXISTS → left-semi join
    q4 = (
        o.where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-07-01")
        )
        .join(
            # big-big semi join: hash, never sort-merge (both sides are
            # corpus-proportional; the date filter bounds the probe side)
            l.where(F.col("l_returnflag") == "R")
            .select("l_orderkey").hint("SHUFFLE_HASH"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("double").alias("order_count"))
        .select(*row("q4", F.col("o_orderpriority"),
                     F.lit(None).cast("string"), F.lit(None),
                     F.col("order_count")))
    )
    # q13: order-count distribution; the priority filter is IN the join
    # condition so customers with only urgent orders land at c_count=0
    q13 = (
        c.join(
            o.where(F.col("o_orderpriority") != "1-URGENT").hint("SHUFFLE_HASH"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").cast("double").alias("custdist"))
        .select(*row("q13", F.lit(None).cast("string"),
                     F.lit(None).cast("string"), F.col("c_count"),
                     F.col("custdist")))
    )
    # q16: lineitem stands in for partsupp; complaint suppliers NOT IN
    p16 = p.where(
        (F.col("p_brand") != "Brand#11")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    compl = s.where(F.col("s_name").like("%7%")).select("s_suppkey")
    q16 = (
        l.select("l_partkey", "l_suppkey").distinct()
        .join(F.broadcast(p16), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(compl),
              F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("double").alias("supplier_cnt"))
        .select(*row("q16", F.col("p_brand"), F.col("p_type"),
                     F.col("p_size"), F.col("supplier_cnt")))
    )
    # q21: sole flagger of a multi-supplier F-order (semi + anti join)
    part_by = l.select("l_orderkey", "l_suppkey").distinct()
    flagged = (
        l.where(F.col("l_returnflag") == "R")
        .join(
            o.where(F.col("o_orderstatus") == "F")
            .select("o_orderkey").hint("SHUFFLE_HASH"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    oth = part_by.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    )
    oth_r = flagged.select(
        F.col("l_orderkey").alias("_okr"), F.col("l_suppkey").alias("_skr")
    )
    q21 = (
        flagged.join(
            oth.hint("SHUFFLE_HASH"),
            (F.col("l_orderkey") == F.col("_ok"))
            & (F.col("l_suppkey") != F.col("_sk")),
            "left_semi",
        )
        .join(
            oth_r.hint("SHUFFLE_HASH"),
            (F.col("l_orderkey") == F.col("_okr"))
            & (F.col("l_suppkey") != F.col("_skr")),
            "left_anti",
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("double").alias("numwait"))
        .select(*row("q21", F.col("s_name"), F.lit(None).cast("string"),
                     F.lit(None), F.col("numwait")))
    )
    return (
        q5.unionByName(q7).unionByName(q8).unionByName(q9)
        .unionByName(q4).unionByName(q13).unionByName(q16).unionByName(q21)
    )


ORACLE_Q5 = """
SELECT 'q5' AS shape, n_name AS k1, CAST(NULL AS VARCHAR) AS k2,
       CAST(NULL AS BIGINT) AS yr,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) + 0.0 AS val
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
UNION ALL
SELECT 'q7', supp_nation, cust_nation, l_year,
       ROUND(SUM(volume), 2) + 0.0
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
UNION ALL
SELECT 'q8', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), o_year,
       ROUND(SUM(CASE WHEN nat = 'NATION_5' THEN volume ELSE 0 END)
             / SUM(volume), 4) + 0.0
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nat
  FROM part, lineitem, orders, customer, nation n1, region, supplier, nation n2
  WHERE p_partkey = l_partkey AND l_orderkey = o_orderkey
    AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
    AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
UNION ALL
SELECT 'q9', n_name, CAST(NULL AS VARCHAR),
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT),
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) + 0.0
FROM lineitem, part, orders, supplier, nation
WHERE p_partkey = l_partkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%1%'
GROUP BY n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)
UNION ALL
SELECT 'q4', o_orderpriority, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(COUNT(*) AS DOUBLE)
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
UNION ALL
SELECT 'q13', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), c_count,
       CAST(COUNT(*) AS DOUBLE)
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
UNION ALL
SELECT 'q16', p_brand, p_type, CAST(p_size AS BIGINT),
       CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE)
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#11'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
GROUP BY p_brand, p_type, p_size
UNION ALL
SELECT 'q21', s_name, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(COUNT(*) AS DOUBLE)
FROM (
  SELECT DISTINCT l.l_orderkey AS f_ok, l.l_suppkey AS f_sk
  FROM lineitem l, orders
  WHERE o_orderkey = l.l_orderkey AND o_orderstatus = 'F'
    AND l.l_returnflag = 'R'
) l1, supplier
WHERE s_suppkey = f_sk
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = f_ok AND l2.l_suppkey <> f_sk)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = f_ok AND l3.l_suppkey <> f_sk
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_norm(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


ORACLE_Q6 = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) + 0.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


ORACLE_TOP3 = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
"""


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling (1 h) AND sliding (1 h length / 30 min slide) event-time
    windows in one result, tagged by kind. The sliding form is the same
    op that streams with a watermark (stream ≡ batch pinned by
    tests/test_streaming.py); the batch form is the oracle-checkable
    one."""
    from faiss_metal_spark.streaming import sliding_counts

    e = _events(spark, sf_dir)
    tumble = e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"), _norm(F.sum("value"), 2).alias("sum_value"))
    slide = sliding_counts(e, length="1 hour", slide="30 minutes").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        _norm(F.col("sum_value"), 2).alias("sum_value"),
    )
    return tumble.select(F.lit("tumble").alias("kind"), "*").unionByName(
        slide.select(F.lit("slide").alias("kind"), "*")
    )


ORACLE_EVENT_WINDOWS = """
SELECT 'tumble' AS kind, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 2) + 0.0 AS sum_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'slide' AS kind, strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 2) + 0.0 AS sum_value
FROM (
  SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS ws,
         event_type, value
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
)
GROUP BY 2, 3
"""


def q_event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type profile in ONE aggregation pass: counts, stats of
    the JSON-extracted props.k field, and exact linear-interpolated
    percentiles (Spark percentile ≡ DuckDB quantile_cont)."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _norm(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
        _norm(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        _norm(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        _norm(F.max("value"), 4).alias("vmax"),
    )


ORACLE_EVENT_TYPE_PROFILE = """
SELECT event_type, COUNT(*) AS n,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) + 0.0 AS avg_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       ROUND(quantile_cont(value, 0.5), 4) + 0.0 AS p50,
       ROUND(quantile_cont(value, 0.95), 4) + 0.0 AS p95,
       ROUND(MAX(value), 4) + 0.0 AS vmax
FROM events GROUP BY event_type
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returned items (TPC-H Q10
    adapted to the available columns)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rev.alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "n_name", _norm(F.col("_rev"), 2).alias("revenue"))
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name, n_name, ROUND(rev, 2) + 0.0 AS revenue
FROM (
  SELECT c_custkey, c_name, n_name,
         SUM(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
  GROUP BY c_custkey, c_name, n_name
  ORDER BY rev DESC, c_custkey ASC LIMIT 20
)
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders: total quantity > 250 (TPC-H Q18 shape:
    group-HAVING subquery join)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .where(F.col("_qty") > 250)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice", _norm(F.col("_qty"), 2).alias("total_qty"),
        )
    )


ORACLE_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
       ROUND(q._qty, 2) + 0.0 AS total_qty
FROM (
  SELECT l_orderkey, SUM(l_quantity) AS _qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
) q
JOIN orders ON q.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts priced above their brand's average (correlated scalar
    subquery, decorrelated into a window aggregate — no self-join)."""
    from pyspark.sql.window import Window

    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    # the filter runs on the unrounded avg; the emitted column is the
    # exact integer brand size (Spark's ROUND(double) uses the shortest
    # decimal repr, which disagrees with engines rounding the true
    # double exactly at .xx5 averages of 2-decimal prices)
    return (
        p.withColumn("_avg", F.avg("p_retailprice").over(w))
        .withColumn("brand_n", F.count(F.lit(1)).over(w))
        .where(F.col("p_retailprice") > F.col("_avg"))
        .select("p_partkey", "p_brand", "p_retailprice", "brand_n")
    )


ORACLE_ABOVE_BRAND_AVG = """
SELECT p_partkey, p_brand, p_retailprice, brand_n
FROM (
  SELECT p_partkey, p_brand, p_retailprice,
         AVG(p_retailprice) OVER (PARTITION BY p_brand) AS brand_avg,
         COUNT(*) OVER (PARTITION BY p_brand) AS brand_n
  FROM part
)
WHERE p_retailprice > brand_avg
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders having ≥1 heavy lineitem (EXISTS → left-semi join)."""
    o = _t(spark, sf_dir, "orders")
    heavy = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (
        o.join(heavy, o["o_orderkey"] == heavy["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORACLE_SEMI_JOIN = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no big-ticket order (NOT EXISTS → left-anti join)."""
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return (
        c.join(big, c["c_custkey"] == big["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


ORACLE_ANTI_JOIN = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
GROUP BY c_mktsegment
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals over (returnflag, linestatus) with ROLLUP."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _norm(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_price",
        )
    )


ORACLE_ROLLUP = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) + 0.0 AS sum_price
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers active in both 1996 and 1997 (INTERSECT set op)."""
    o = _t(spark, sf_dir, "orders")
    y96 = o.where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    y97 = o.where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_custkey")
    return y96.intersect(y97)


ORACLE_INTERSECT = """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
"""


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts spread into one column per type
    (explicit value list keeps the schema deterministic)."""
    e = _events(spark, sf_dir)
    types = ["click", "view", "purchase", "error", "signup"]
    return (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


ORACLE_PIVOT = """
SELECT user_id,
  COUNT(*) FILTER (event_type = 'click')    AS n_click,
  COUNT(*) FILTER (event_type = 'view')     AS n_view,
  COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
  COUNT(*) FILTER (event_type = 'error')    AS n_error,
  COUNT(*) FILTER (event_type = 'signup')   AS n_signup
FROM events GROUP BY user_id
"""


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): all 4 grouping-set
    combinations in one pass."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), _norm(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


ORACLE_CUBE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) + 0.0 AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four decision-support shapes in one melted (q, key, value)
    result: 'q12_high'/'q12_low' are TPC-H Q12 conditional aggregation
    (priority-class counts per linestatus); 'q4' is the Q4 shape —
    EXISTS-correlated semi-join (orders with a line shipped after the
    order date) counted per priority; 'q13' is the Q13 shape — left
    outer join distribution (how many customers have how many 'F'
    orders, including zero); 'q21' is the Q21 shape — exists +
    not-exists correlation (suppliers solely 'blamed' — only supplier
    with a returned line in a multi-supplier order), top 10."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")

    l96 = l.where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    q12 = (
        l96.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )
    q12m = q12.selectExpr(
        "stack(2, 'q12_high', l_linestatus, high_line_count,"
        " 'q12_low', l_linestatus, low_line_count) as (q, key, value)"
    )

    q4 = (
        o.join(
            l,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "leftsemi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(F.lit("q4").alias("q"), F.col("o_orderpriority").alias("key"), "value")
    )

    per_c = (
        c.join(
            o.where(F.col("o_orderstatus") == "F"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    q13 = (
        per_c.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.lit("q13").alias("q"),
            F.col("c_count").cast("string").alias("key"),
            "value",
        )
    )

    # "sole supplier with a returned line in a multi-supplier order" ≡
    # "order has ≥2 distinct suppliers and exactly 1 distinct R-flag
    # supplier" — the exists/not-exists correlation folds into
    # per-order set arithmetic (no self-join, no anti-join). The oracle
    # keeps the textbook correlated form so the rewrite is
    # value-checked against it.
    # r14 (guide §2.3): two-level aggregation instead of one
    # countDistinct+collect_list agg — the single-agg form planned an
    # Expand that DOUBLED the shuffled lineitem rows; aggregating to
    # distinct (orderkey, suppkey) first is map-side combined, shuffles
    # at most one row per distinct pair, and the second agg is
    # pair-scale. rsupps arrives unordered either way; only its SIZE
    # and sole member are consumed. Measured at sf0.1: the lane alone
    # 4.1-5.2 s → 2.7-3.4 s, values identical.
    per_os = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_r")
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("ns"),
        F.collect_list(
            F.when(F.col("has_r") == 1, F.col("l_suppkey"))
        ).alias("rsupps"),
    )
    sole = (
        per_order.where((F.col("ns") >= 2) & (F.size("rsupps") == 1))
        .select(F.explode("rsupps").alias("l_suppkey"))
    )
    q21 = (
        sole.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("value"))
        .orderBy(F.col("value").desc(), F.col("s_name").asc())
        .limit(10)
        .select(F.lit("q21").alias("q"), F.col("s_name").alias("key"), "value")
    )

    return q12m.unionByName(q4).unionByName(q13).unionByName(q21)


ORACLE_Q12 = """
WITH q12 AS (
  SELECT l_linestatus,
    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS hi,
    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS lo
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_linestatus
), q4 AS (
  SELECT o_orderpriority AS key, CAST(COUNT(*) AS BIGINT) AS value
  FROM orders
  WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
  GROUP BY o_orderpriority
), per_c AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
  GROUP BY c.c_custkey
), q13 AS (
  SELECT CAST(c_count AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS value
  FROM per_c GROUP BY c_count
), r AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
), multi AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING COUNT(DISTINCT l_suppkey) >= 2
), sole AS (
  SELECT r.l_orderkey, r.l_suppkey FROM r JOIN multi USING (l_orderkey)
  WHERE NOT EXISTS (
    SELECT 1 FROM r r2
    WHERE r2.l_orderkey = r.l_orderkey AND r2.l_suppkey != r.l_suppkey)
), q21 AS (
  SELECT s_name AS key, CAST(COUNT(*) AS BIGINT) AS value
  FROM sole JOIN supplier ON s_suppkey = l_suppkey
  GROUP BY s_name
  ORDER BY value DESC, s_name ASC
  LIMIT 10
)
SELECT 'q12_high' AS q, l_linestatus AS key, hi AS value FROM q12
UNION ALL SELECT 'q12_low', l_linestatus, lo FROM q12
UNION ALL SELECT 'q4', key, value FROM q4
UNION ALL SELECT 'q13', key, value FROM q13
UNION ALL SELECT 'q21', key, value FROM q21
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share (TPC-H Q14: conditional agg over a join,
    single-row ratio output)."""
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-03-01")
    )
    p = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            _norm(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0))
                / F.sum(disc),
                4,
            ).alias("promo_revenue_pct")
        )
    )


ORACLE_Q14 = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) + 0.0 AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-03-01'
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity revenue (TPC-H Q17: correlated AVG subquery,
    decorrelated into an aggregate join; the per-part limit side is
    tiny → broadcast)."""
    l = _t(spark, sf_dir, "lineitem")
    lim = (
        l.groupBy("l_partkey")
        .agg((0.2 * F.avg("l_quantity")).alias("_qty_lim"))
        .withColumnRenamed("l_partkey", "_pk")
    )
    return (
        l.join(F.broadcast(lim), F.col("l_partkey") == F.col("_pk"))
        .where(F.col("l_quantity") < F.col("_qty_lim"))
        .agg(_norm(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


ORACLE_Q17 = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) + 0.0 AS avg_yearly
FROM lineitem l
JOIN (SELECT l_partkey AS pk, 0.2 * AVG(l_quantity) AS qty_lim
      FROM lineitem GROUP BY 1) q
  ON l.l_partkey = q.pk
WHERE l.l_quantity < q.qty_lim
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-clause predicate over a join (TPC-H Q19 shape):
    Catalyst pushes the common join key and evaluates the OR-of-ANDs
    post-join; the part side broadcasts."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    c1 = (
        (F.col("p_type") == "SMALL")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 20)
    )
    c2 = (
        (F.col("p_type") == "MEDIUM")
        & F.col("p_size").between(10, 25)
        & F.col("l_quantity").between(10, 30)
    )
    c3 = (
        (F.col("p_type") == "LARGE")
        & F.col("p_size").between(20, 40)
        & F.col("l_quantity").between(25, 50)
    )
    return j.where(c1 | c2 | c3).agg(
        _norm(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_Q19 = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) + 0.0 AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_type = 'SMALL'  AND p_size BETWEEN 1  AND 10 AND l_quantity BETWEEN 1  AND 20)
   OR (p_type = 'MEDIUM' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_type = 'LARGE'  AND p_size BETWEEN 20 AND 40 AND l_quantity BETWEEN 25 AND 50)
"""


def q_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax (TPC-H Q2 shape): best supplier by account
    balance per nation, window rank over the small dimension side."""
    from pyspark.sql.window import Window

    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    return (
        s.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", "s_name", "s_acctbal")
    )


ORACLE_TOP_SUPPLIER = """
SELECT n_name, s_name, s_acctbal
FROM (
  SELECT s_nationkey, s_name, s_acctbal,
         row_number() OVER (PARTITION BY s_nationkey
                            ORDER BY s_acctbal DESC, s_suppkey ASC) AS rk
  FROM supplier
) JOIN nation ON s_nationkey = n_nationkey
WHERE rk = 1
"""


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global scalar subquery (avg positive balance)
    + anti join (customers with no urgent orders), grouped. The 1-row
    scalar broadcasts via crossJoin."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    avg_pos = c.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_pos))
        .where(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            _norm(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


ORACLE_IDLE_RICH = """
SELECT c_nationkey, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) + 0.0 AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


def q_orders_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing + exact DISTINCT aggregate: orders per month
    with distinct active customers."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            _norm(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


ORACLE_ORDERS_MONTHLY = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       COUNT(*) AS n_orders, COUNT(DISTINCT o_custkey) AS n_customers,
       ROUND(SUM(o_totalprice), 2) + 0.0 AS total
FROM orders GROUP BY 1
"""


def q_part_name_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode: part-name tokens → term frequency + distinct
    brand reach per term."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select("p_brand", F.explode(F.split("p_name", " ")).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_brand").alias("n_brands"),
        )
    )


ORACLE_PART_TERMS = """
SELECT term, COUNT(*) AS n_parts, COUNT(DISTINCT p_brand) AS n_brands
FROM (SELECT p_brand, unnest(string_split(p_name, ' ')) AS term FROM part)
GROUP BY term
"""


def q_brand_number_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions (regexp extract, upper, concat) feeding a
    group-by: brand numeric suffix buckets."""
    p = _t(spark, sf_dir, "part")
    bnum = F.regexp_extract("p_brand", r"(\d+)", 1).cast("int")
    return (
        p.select(
            bnum.alias("brand_num"),
            F.concat(F.upper(F.col("p_type")), F.lit(":"), F.col("p_brand")).alias("tag"),
            "p_retailprice",
        )
        .groupBy("brand_num")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("tag").alias("n_tags"),
            _norm(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
    )


ORACLE_BRAND_NUM = """
SELECT CAST(regexp_extract(p_brand, '(\\d+)', 1) AS INTEGER) AS brand_num,
       COUNT(*) AS n,
       COUNT(DISTINCT upper(p_type) || ':' || p_brand) AS n_tags,
       ROUND(AVG(p_retailprice), 4) + 0.0 AS avg_price
FROM part GROUP BY 1
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: explode → tf per (doc, term) → df per term → score →
    per-doc argmax. The doc count is a 1-row broadcast, the df table
    shuffles once on term, the final argmax is a window over doc_id."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    tfidf = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.lit("tfidf").alias("kind"),
            "doc_id",
            F.col("term").alias("key"),
            _norm(F.col("score"), 4).alias("x"),
        )
    )
    # BM25 relevance for a fixed query — the lexical/sparse half of
    # hybrid retrieval, scored by operators/text_search.py. Corpus
    # stats are precomputed (corpus_stats) so the scoring plan scans
    # the corpus exactly once — the production shape at 100 TB.
    from faiss_metal_spark.operators.text_search import bm25_scores, corpus_stats

    bm = bm25_scores(d, _BM25_TERMS, stats=corpus_stats(d)).select(
        F.lit("bm25").alias("kind"),
        "doc_id",
        F.col("n_hit").cast("string").alias("key"),
        _norm(F.col("score"), 4).alias("x"),
    )
    return tfidf.unionByName(bm)


_BM25_TERMS = ["join", "query", "table"]


ORACLE_TFIDF = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (
  SELECT doc_id, term, tf * ln(n_docs / CAST(df AS DOUBLE)) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN n
),
r AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
  FROM s
),
dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents
),
avgdl AS (SELECT AVG(dl) AS a FROM dl),
qt AS (SELECT unnest(['join', 'query', 'table']) AS term),
btf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks JOIN qt USING (term) GROUP BY 1, 2
),
bdf AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM btf GROUP BY 1),
bsc AS (
  SELECT btf.doc_id, COUNT(*) AS n_hit,
         SUM(
           ln(1.0 + (n.n_docs - bdf.df + 0.5) / (bdf.df + 0.5))
           * (btf.tf * 2.2)
           / (btf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl.a))
         ) AS score
  FROM btf
  JOIN bdf USING (term)
  JOIN dl ON dl.doc_id = btf.doc_id
  CROSS JOIN avgdl CROSS JOIN n
  GROUP BY btf.doc_id
)
SELECT 'tfidf' AS kind, doc_id, term AS key, ROUND(score, 4) + 0.0 AS x
FROM r WHERE rk = 1
UNION ALL
SELECT 'bm25', doc_id, CAST(n_hit AS VARCHAR), ROUND(score, 4) + 0.0
FROM bsc
"""


def q_order_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile bucketing per status partition → per-quartile price stats."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("o_orderstatus", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _norm(F.min("o_totalprice"), 2).alias("lo"),
            _norm(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


ORACLE_QUARTILES = """
SELECT o_orderstatus, CAST(quartile AS INTEGER) AS quartile, COUNT(*) AS n,
       ROUND(MIN(o_totalprice), 2) + 0.0 AS lo, ROUND(MAX(o_totalprice), 2) + 0.0 AS hi
FROM (
  SELECT o_orderstatus, o_totalprice,
         ntile(4) OVER (PARTITION BY o_orderstatus
                        ORDER BY o_totalprice ASC, o_orderkey ASC) AS quartile
  FROM orders
)
GROUP BY 1, 2
"""


def q_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: customers active in 1996 but not in 1997."""
    o = _t(spark, sf_dir, "orders")
    y96 = o.where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    y97 = o.where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_custkey")
    return y96.subtract(y97)


ORACLE_EXCEPT = """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
"""


def q_grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (marginal totals by type, by user, and
    grand total in one pass) via Spark SQL."""
    e = _events(spark, sf_dir)
    e.createOrReplaceTempView("_gs_events")
    return spark.sql(
        """
        SELECT COALESCE(event_type, 'ALL') AS etype,
               COALESCE(CAST(user_id AS STRING), 'ALL') AS uid,
               COUNT(*) AS n, ROUND(SUM(value), 2) + 0.0 AS sum_value
        FROM _gs_events
        GROUP BY GROUPING SETS ((event_type), (user_id), ())
        """
    )


ORACLE_GROUPING_SETS = """
SELECT COALESCE(event_type, 'ALL') AS etype,
       COALESCE(CAST(user_id AS VARCHAR), 'ALL') AS uid,
       COUNT(*) AS n, ROUND(SUM(value), 2) + 0.0 AS sum_value
FROM events GROUP BY GROUPING SETS ((event_type), (user_id), ())
"""


def q_range_join_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join as a driver query: customers whose balance falls in
    [s_acctbal − 50, s_acctbal + 50) per supplier, via granule
    bucketing (equi-join + residual filter, no theta cross product)."""
    from faiss_metal_spark.operators.joins import range_bucket_join

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_acctbal") - 50.0).alias("lo"),
        (F.col("s_acctbal") + 50.0).alias("hi"),
    )
    j = range_bucket_join(c, s, "c_acctbal", "lo", "hi", granule=50.0)
    # sum, not avg: an AVG of 2-decimal balances can land exactly on a
    # round-half boundary where the two engines' doubles disagree
    return j.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        _norm(F.sum("c_acctbal"), 2).alias("sum_bal"),
    )


ORACLE_RANGE_JOIN = """
SELECT s_suppkey, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) + 0.0 AS sum_bal
FROM supplier JOIN customer
  ON c_acctbal >= s_acctbal - 50.0 AND c_acctbal < s_acctbal + 50.0
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Dedup / text-analysis queries (north-star extensions)
# ---------------------------------------------------------------------------


def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each click annotated with the user's most recent
    purchase value at or before it (null if none). Right side is
    pre-deduped per (user, ts) so tie semantics are engine-independent."""
    from faiss_metal_spark.operators.joins import as_of_join

    e = _events(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    res = as_of_join(clicks, purch, key="user_id", value_cols=["pval"])
    return res.select(
        "event_id", "user_id", _norm(F.col("pval"), 2).alias("last_purchase")
    )


ORACLE_ASOF = """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, MAX(value) AS pval
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT c.event_id, c.user_id, ROUND(p.pval, 2) + 0.0 AS last_purchase
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts
"""


def q_join_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded interval join (the batch form of the watermarked
    stream-stream join): clicks paired with same-user purchases in the
    preceding 30 minutes."""
    from faiss_metal_spark.streaming import join_within

    e = _events(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purch = e.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    res = join_within(clicks, purch, key="user_id", within="30 minutes")
    return res.select(
        F.col("l_event_id").alias("click_id"),
        F.col("l_user_id").alias("user_id"),
        _norm(F.col("r_value"), 2).alias("purchase_value"),
    )


ORACLE_JOIN_WITHIN = """
SELECT c.event_id AS click_id, c.user_id AS user_id,
       ROUND(p.value, 2) + 0.0 AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts - INTERVAL 30 MINUTE AND p.ts <= c.ts
"""


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (session_window — same op streams with a
    watermark; batch form is the oracle-checkable one)."""
    from faiss_metal_spark.streaming import sessionize

    e = _events(spark, sf_dir)
    s = sessionize(e, gap="30 minutes")
    return s.select(
        "user_id", "session_start_us", "n_events", _norm(F.col("sum_value"), 2).alias("sum_value")
    )


ORACLE_SESSIONS = """
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR ts >= prev_ts + INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS new_session
  FROM o
),
g AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
)
SELECT user_id, epoch_us(MIN(ts)) AS session_start_us,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) + 0.0 AS sum_value
FROM g GROUP BY user_id, sid
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, batch + incremental + sub-document tagged: 'full'
    rows are the whole-corpus digest groupBy; 'incr' rows replay
    ingestion as a delta — docs with doc_id ≥ 250 arrive against the
    digest index of docs < 250, are deduped delta-internally, and
    anti-joined against the index (the existing corpus is never
    rescanned); 'para' rows are paragraph-granularity dedup (r11,
    operators/dedup.py::segment_dedup): each doc's token stream split
    into 20-token segments, segments deduped corpus-wide — the
    repeated-boilerplate catch whole-document dedup misses."""
    from faiss_metal_spark.operators.dedup import incremental_dedup, segment_dedup

    d = _t(spark, sf_dir, "documents")
    key = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 3))
    full = exact_dedup(d, key, id_col="doc_id").select(
        F.lit("full").alias("kind"), "dup_key", "n_dups", "keeper"
    )
    seen = d.where(F.col("doc_id") < 250).select(key.alias("dup_key")).distinct()
    incr = incremental_dedup(
        d.where(F.col("doc_id") >= 250), seen, key, id_col="doc_id"
    ).select(F.lit("incr").alias("kind"), "dup_key", "n_dups", "keeper")
    para = segment_dedup(d, window=20).select(
        F.lit("para").alias("kind"), "dup_key", "n_dups", "keeper"
    )
    return full.unionByName(incr).unionByName(para)


ORACLE_DEDUP_EXACT = """
SELECT 'full' AS kind, array_to_string(string_split(text, ' ')[1:3], ' ') AS dup_key,
       COUNT(*) AS n_dups, MIN(doc_id) AS keeper
FROM documents GROUP BY 2 HAVING COUNT(*) > 1
UNION ALL
SELECT 'incr', dup_key, n_dups, keeper FROM (
  SELECT array_to_string(string_split(text, ' ')[1:3], ' ') AS dup_key,
         COUNT(*) AS n_dups, MIN(doc_id) AS keeper
  FROM documents WHERE doc_id >= 250 GROUP BY 1
) s
WHERE s.dup_key NOT IN (
  SELECT array_to_string(string_split(text, ' ')[1:3], ' ')
  FROM documents WHERE doc_id < 250
)
UNION ALL
SELECT 'para', chunk AS dup_key, COUNT(*) AS n_dups, MIN(doc_id) AS keeper
FROM (
  SELECT doc_id, array_to_string(t[i*20+1 : i*20+20], ' ') AS chunk
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) toks,
       LATERAL (SELECT unnest(range(CAST(ceil(len(t)/20.0) AS INT))) AS i) u
) ch
GROUP BY 2 HAVING COUNT(*) > 1
"""


# Shared CTE chain producing the LSH candidate pairs (used by both the
# pair query's oracle and the recursive clusters oracle).
_MINHASH_CTES = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]) AS sh
  FROM toks WHERE len(t) >= 3
),
sig AS (
  SELECT doc_id,
    MIN(substr(md5(sh), 1, 8))  AS mh0, MIN(substr(md5(sh), 9, 8))  AS mh1,
    MIN(substr(md5(sh), 17, 8)) AS mh2, MIN(substr(md5(sh), 25, 8)) AS mh3,
    MIN(substr(md5(sh || '#'), 1, 8))  AS mh4, MIN(substr(md5(sh || '#'), 9, 8))  AS mh5,
    MIN(substr(md5(sh || '#'), 17, 8)) AS mh6, MIN(substr(md5(sh || '#'), 25, 8)) AS mh7
  FROM sh GROUP BY doc_id
),
bkt AS (
  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bkey FROM sig UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || mh3) AS bkey FROM sig UNION ALL
  SELECT doc_id, 2 AS band, md5(mh4 || mh5) AS bkey FROM sig UNION ALL
  SELECT doc_id, 3 AS band, md5(mh6 || mh7) AS bkey FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bkt a JOIN bkt b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id
)
"""

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: MinHash-LSH candidate pairs → connected
    components (min-label propagation ≡ recursive-CTE closure)."""
    d = _t(spark, sf_dir, "documents")
    sig = minhash_signatures(d, num_hashes=8, shingle_size=3)
    pairs = lsh_candidate_pairs(sig, num_hashes=8, bands=4)
    return connected_components(pairs)


def _oracle_dedup_clusters() -> str:
    # same pair CTEs, then transitive closure by recursive min-label
    # reachability (≡ the engine's label propagation at convergence)
    return f"""
WITH RECURSIVE {_MINHASH_CTES},
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
n AS (SELECT DISTINCT a AS id FROM e),
r AS (
  SELECT id, id AS l FROM n
  UNION
  SELECT e.b AS id, r.l FROM r JOIN e ON e.a = r.id
)
SELECT id, MIN(l) AS cluster FROM r GROUP BY id
"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pipeline, both configurations tagged: 'lex' rows are
    exact dedup + MinHash-LSH near-dedup (cluster representative =
    min id) + quality filter in one declarative plan; 'sem' rows add
    the optional SemDeDup stage — semantic-group non-representatives
    (cosine ≥ 0.35 within a fixed-centroid cell, min-id
    representative) dropped in the same plan. Embedding ids live in
    the document id space; docs without an embedding row pass the
    semantic stage."""
    from faiss_metal_spark.pipeline import curate_corpus

    # NOTE (r9): persisting the documents input was measured and
    # REJECTED — the cached text column trades a cheap columnar
    # parquet re-scan for memory-store pressure and loses the scan's
    # AQE coalescing (7.7 s → 23 s at sf0.1). The lexical stages each
    # re-scan parquet; that is the faster plan here.
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    cols = lambda v, df: df.select(  # noqa: E731
        F.lit(v).alias("variant"), "doc_id", "lang", "n_tokens",
        _norm(F.col("quality"), 4).alias("quality"),
    )
    # the semantic stage only ADDS drops and the quality filter is
    # per-doc, so sem ≡ lex minus the SemDeDup drop set — materialize
    # the expensive lexical pipeline once and derive the sem rows by
    # anti-join instead of running exact+LSH+CC+verify twice
    from faiss_metal_spark.operators.dedup import semantic_dedup

    # the two eager lanes are independent (lexical CC materializes the
    # LSH lineage; semantic_dedup eagerly checkpoints its per-cell
    # union-find) — run them from threads so their jobs interleave on
    # the idle executor threads (the ann_compact/mllib r10 pattern)
    from concurrent.futures import ThreadPoolExecutor

    def _sem_lane():
        # r14: the quantizer collect (the sem lane's only input besides
        # the embeddings) runs INSIDE this thread so it overlaps the
        # lex lane's CC probe instead of serializing before the pool
        # (guide §2.6)
        centroids, _, _, _ = _fixed_quantizers(
            e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        )
        return semantic_dedup(
            e, centroids, id_col="vec_id", vec_col="embedding", threshold=0.35
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_lex = pool.submit(
            lambda: curate_corpus(d, min_quality=0.5).localCheckpoint(eager=False)
        )
        f_sem = pool.submit(_sem_lane)
        lex = f_lex.result()
        sem_drop = (
            f_sem.result()
            .where(F.col("keep") == 0)
            .select(F.col("id").alias("_sem_drop"))
        )
    # SHUFFLE_HASH: the drop set is corpus-proportional at full scale
    # (semantic-dup fraction of all docs) — too big to broadcast — and
    # the default SMJ would sort both sides; a shuffled hash anti-join
    # builds on the (always-smaller) drop side with no sorts
    sem = lex.join(
        sem_drop.hint("SHUFFLE_HASH"),
        lex["doc_id"] == F.col("_sem_drop"),
        "left_anti",
    )
    return cols("lex", lex).unionByName(cols("sem", sem))


# exact-dup + near-dup drop set, then the doc_quality scoring formula —
# stitched from the same CTEs the individual stage oracles use. Banding
# candidates are verified with exact shingle-set Jaccard ≥ 0.5 before
# becoming dedup edges (engine: curate_corpus verify_jaccard=0.5).
_ORACLE_CURATE = f"""
WITH RECURSIVE {_MINHASH_CTES},
shd AS (SELECT DISTINCT doc_id, sh FROM sh),
szs AS (SELECT doc_id, COUNT(*) AS sz FROM shd GROUP BY doc_id),
pinter AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS i
  FROM pairs p
  JOIN shd a ON a.doc_id = p.id_a
  JOIN shd b ON b.doc_id = p.id_b AND b.sh = a.sh
  GROUP BY 1, 2
),
vpairs AS (
  SELECT i.id_a, i.id_b FROM pinter i
  JOIN szs sa ON sa.doc_id = i.id_a
  JOIN szs sb ON sb.doc_id = i.id_b
  WHERE i.i / CAST(sa.sz + sb.sz - i.i AS DOUBLE) >= 0.5
),
e AS (SELECT id_a AS a, id_b AS b FROM vpairs
      UNION ALL SELECT id_b, id_a FROM vpairs),
nn AS (SELECT DISTINCT a AS id FROM e),
r AS (
  SELECT id, id AS l FROM nn
  UNION
  SELECT e.b AS id, r.l FROM r JOIN e ON e.a = r.id
),
cc AS (SELECT id, MIN(l) AS cluster FROM r GROUP BY id),
near_drop AS (SELECT id FROM cc WHERE id != cluster),
ek AS (SELECT doc_id, md5(text) AS k FROM documents),
km AS (SELECT k, MIN(doc_id) AS keeper FROM ek GROUP BY k),
exact_drop AS (SELECT doc_id AS id FROM ek JOIN km USING (k) WHERE doc_id != keeper),
drops AS (SELECT id FROM near_drop UNION SELECT id FROM exact_drop),
t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
  WHERE doc_id NOT IN (SELECT id FROM drops)
),
q AS (
  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
         0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
       + 0.3 * LEAST(len(toks) / 64.0, 1.0)
       + 0.3 * LEAST(list_sum([length(x) FOR x IN toks]) / CAST(len(toks) AS DOUBLE) / 8.0, 1.0)
         AS quality
  FROM t
)
SELECT doc_id, lang, n_tokens, ROUND(quality, 4) + 0.0 AS quality
FROM q WHERE quality >= 0.5
"""


# the SemDeDup drop set (same fixed-centroid cell assignment + in-cell
# cosine pairs + recursive min-label closure as the 'sem' rows of
# ORACLE_NEARDUP; 16 = _ANN_CELLS), spliced into the curate oracle's
# drop union so both stay textually in sync with _ORACLE_CURATE.
_SEM_DROP_CTES = """sc AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 16),
sva AS (
  SELECT vec_id, cell, embedding FROM (
    SELECT v.vec_id, v.embedding, sc.cell,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_inner_product(sc.cv::DOUBLE[], sc.cv::DOUBLE[])
             - 2 * list_inner_product(v.embedding::DOUBLE[], sc.cv::DOUBLE[]) ASC,
             sc.cell ASC) AS rn
    FROM embeddings v CROSS JOIN sc)
  WHERE rn = 1
),
sp2 AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sva a JOIN sva b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
),
se2 AS (SELECT id_a AS s, id_b AS t FROM sp2 UNION ALL SELECT id_b, id_a FROM sp2),
sr AS (
  SELECT s AS id, s AS l FROM (SELECT DISTINCT s FROM se2) sn
  UNION
  SELECT se2.t AS id, sr.l FROM sr JOIN se2 ON se2.s = sr.id
),
sg AS (SELECT id, MIN(l) AS grp FROM sr GROUP BY id),
sem_drop AS (SELECT id FROM sg WHERE grp != id),
"""  # noqa: E501

_ORACLE_CURATE_SEM = _ORACLE_CURATE.replace(
    "drops AS (SELECT id FROM near_drop UNION SELECT id FROM exact_drop),",
    _SEM_DROP_CTES
    + "drops AS (SELECT id FROM near_drop UNION SELECT id FROM exact_drop"
    " UNION SELECT id FROM sem_drop),",
)
assert "sem_drop" in _ORACLE_CURATE_SEM  # splice anchor must exist

# one variant-tagged key runs both configurations (the driver checks a
# 50-query window; lex/sem stay independently hash-checked via the tag)
_ORACLE_CURATE_TAGGED = (
    "SELECT 'lex' AS variant, lq.* FROM (" + _ORACLE_CURATE + ") lq"
    " UNION ALL SELECT 'sem' AS variant, sq.* FROM (" + _ORACLE_CURATE_SEM + ") sq"
)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 53 == 0 stand in
    for the held-out benchmark suite; every other doc sharing ≥1 word
    3-gram with it is flagged with its contaminated-n-gram count. The
    eval shingle-hash set is broadcast — the corpus never shuffles."""
    from faiss_metal_spark.pipeline import decontaminate

    d = _t(spark, sf_dir, "documents")
    ev = d.where(F.col("doc_id") % 53 == 0)
    tr = d.where(F.col("doc_id") % 53 != 0)
    return decontaminate(tr, ev).select(F.col("id").alias("doc_id"), "n_shared")


ORACLE_DECONTAM = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)])) AS s
  FROM toks WHERE len(t) >= 3
),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 53 = 0),
tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 53 <> 0)
SELECT tr.doc_id AS doc_id, COUNT(*) AS n_shared
FROM tr JOIN ev USING (s)
GROUP BY 1
"""


def q_corpus_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-export trio in one result: deterministic 90/5/5
    train/val/test assignment by md5(doc_id) hex bucket
    (content-independent, shuffle-free projection), the per-language
    stratified cap (≤30 docs/lang by md5 order — the domain-mixing
    downsample) as an in_cap flag, the TOKEN-budget cap (≤2500
    tokens/lang admitted in md5 order — how training mixes are
    actually specified) as an in_budget flag, mixture_sample's per-source keep
    rates (25 % default, 100 % src0, 50 % src1, 6.25 % src2) as an
    in_mix flag, and shard_pack's shard / in-shard position / GPT-style
    concat-and-chunk sequence range (seq_len=512, 8 shards) — the
    columns a 100 TB corpus needs to be written out as training
    shards.

    r13 URL-curation columns (functions/url.py — the CCNet/RefinedWeb
    domain-level pass): the corpus has no URL column, so a
    deterministic synthetic URL derives from (doc_id, source) in BOTH
    engines — mixed-case hosts, optional www., default :443 ports,
    tracking params, fragments — and the columns hash-check the
    ENGINE's generic operators against the oracle's independent
    statement of the expected result: ``curl`` = canonicalize_url,
    ``domain`` = registered_domain (incl. the co.uk eTLD+1 path),
    ``in_domain_cap`` = domain_cap(≤25/domain), ``url_ok`` =
    domain_blocklist_filter survival."""
    from faiss_metal_spark.functions.url import (
        canonicalize_url,
        domain_blocklist_filter,
        domain_cap,
        registered_domain,
    )
    from faiss_metal_spark.pipeline import (
        hash_split,
        mixture_sample,
        shard_pack,
        stratified_cap,
        token_budget_cap,
    )

    d = _t(spark, sf_dir, "documents")
    # deterministic synthetic raw URL (same construction as the oracle)
    host = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"), (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
    )
    raw = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 6 == 2, F.upper(host)).otherwise(host),
        F.when(F.col("doc_id") % 11 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"), F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("?utm_source=feed&page="), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 1, F.lit("#sec")).otherwise(F.lit("")),
    )
    du = d.withColumn("url", raw)
    url_cols = du.select(
        "doc_id",
        canonicalize_url("url").alias("curl"),
        registered_domain("url").alias("domain"),
    )
    dcap = domain_cap(du, 25).select("doc_id", F.lit(1).alias("in_domain_cap"))
    dok = domain_blocklist_filter(
        du, ["src14.com", "src03.co.uk"]
    ).select("doc_id", F.lit(1).alias("url_ok"))
    capped = stratified_cap(d, "lang", 30).select(
        "doc_id", F.lit(1).alias("in_cap")
    )
    budgeted = token_budget_cap(d, "lang", 2500).select(
        "doc_id", F.lit(1).alias("in_budget")
    )
    packed = shard_pack(d, n_shards=8, seq_len=512)
    mixed = mixture_sample(
        d, {"src0": 1.0, "src1": 0.5, "src2": 0.0625}, default_rate=0.25
    ).select("doc_id", "in_mix")
    return (
        hash_split(d)
        .select("doc_id", "split")
        .join(capped, "doc_id", "left")
        .join(budgeted, "doc_id", "left")
        .join(mixed, "doc_id")
        .join(packed, "doc_id")
        .join(url_cols, "doc_id")
        .join(dcap, "doc_id", "left")
        .join(dok, "doc_id", "left")
        .select(
            "doc_id", "split", F.coalesce("in_cap", F.lit(0)).alias("in_cap"),
            F.coalesce("in_budget", F.lit(0)).alias("in_budget"),
            "in_mix",
            "shard", "pos", "n_tok", "tok_off", "first_seq", "last_seq",
            "curl", "domain",
            F.coalesce("in_domain_cap", F.lit(0)).alias("in_domain_cap"),
            F.coalesce("url_ok", F.lit(0)).alias("url_ok"),
        )
    )


ORACLE_SPLITS = """
WITH r AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
), bdg AS (
  SELECT doc_id,
         SUM(len(string_split(text, ' '))) OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents
), t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 4))::BIGINT % 64 AS bucket
  FROM documents
), o AS (
  SELECT doc_id, n_tok, shard,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY bucket, h, doc_id) - 1 AS pos,
         COALESCE(SUM(n_tok) OVER (
           PARTITION BY shard ORDER BY bucket, h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_off
  FROM t
), u AS (
  -- independent statement of the URL-curation expectations: the raw
  -- synthetic URL (mixed case / www. / :443 / utm params / fragment)
  -- canonicalizes to lowercase host + stripped port/params/fragment;
  -- the registered domain is the host minus the www. label (eTLD+1,
  -- incl. the co.uk 3-label path)
  SELECT doc_id,
         'https://'
           || (CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END)
           || source || CAST(doc_id % 7 AS VARCHAR)
           || (CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END)
           || '/docs/' || CAST(doc_id AS VARCHAR)
           || (CASE WHEN doc_id % 2 = 0
               THEN '?page=' || CAST(doc_id AS VARCHAR) ELSE '' END) AS curl,
         source || CAST(doc_id % 7 AS VARCHAR)
           || (CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END) AS domain
  FROM documents
), ucap AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY domain
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS drk
  FROM u
)
SELECT r.doc_id,
  CASE WHEN substr(md5(CAST(r.doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
       WHEN substr(md5(CAST(r.doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
       ELSE 'test' END AS split,
  CASE WHEN r.rk <= 30 THEN 1 ELSE 0 END AS in_cap,
  CASE WHEN bdg.cum <= 2500 THEN 1 ELSE 0 END AS in_budget,
  CASE WHEN d.source = 'src0' THEN 1
       WHEN d.source = 'src1' THEN
         CASE WHEN substr(md5(CAST(r.doc_id AS VARCHAR)), 1, 2) < '80' THEN 1 ELSE 0 END
       WHEN d.source = 'src2' THEN
         CASE WHEN substr(md5(CAST(r.doc_id AS VARCHAR)), 1, 2) < '10' THEN 1 ELSE 0 END
       ELSE
         CASE WHEN substr(md5(CAST(r.doc_id AS VARCHAR)), 1, 2) < '40' THEN 1 ELSE 0 END
  END AS in_mix,
  CAST(o.shard AS INTEGER) AS shard,
  CAST(o.pos AS BIGINT) AS pos,
  CAST(o.n_tok AS BIGINT) AS n_tok,
  CAST(o.tok_off AS BIGINT) AS tok_off,
  CAST(o.tok_off // 512 AS BIGINT) AS first_seq,
  CAST((o.tok_off + GREATEST(o.n_tok, 1) - 1) // 512 AS BIGINT) AS last_seq,
  u.curl AS curl,
  u.domain AS domain,
  CASE WHEN ucap.drk <= 25 THEN 1 ELSE 0 END AS in_domain_cap,
  CASE WHEN u.domain IN ('src14.com', 'src03.co.uk') THEN 0 ELSE 1 END AS url_ok
FROM r JOIN o ON r.doc_id = o.doc_id
JOIN bdg ON bdg.doc_id = r.doc_id
JOIN documents d ON d.doc_id = r.doc_id
JOIN u ON u.doc_id = r.doc_id
JOIN ucap ON ucap.doc_id = r.doc_id
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            _norm(F.avg(token_count("text")), 4).alias("avg_tokens"),
            _norm(F.avg("n_chars"), 4).alias("avg_chars"),
            F.max(token_count("text")).cast("long").alias("max_tokens"),
        )
    )


ORACLE_TEXT_STATS = """
SELECT lang, COUNT(*) AS n_docs,
       ROUND(AVG(len(string_split(text, ' '))), 4) + 0.0 AS avg_tokens,
       ROUND(AVG(n_chars), 4) + 0.0 AS avg_chars,
       MAX(len(string_split(text, ' '))) AS max_tokens
FROM documents GROUP BY lang
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, both shapes tagged in one result: 'pair'
    rows are label-blocked cosine pairs (a=id_a, b=id_b, x=cos);
    'sem' rows are SemDeDup semantic dedup over FIXED centroids
    (first-16 embedding rows — the oracle-checkable coarse quantizer):
    cell-local cosine pairs → connected groups → min-id representative
    (a=id, b=group, x=cell; keep ⇔ a=b)."""
    from faiss_metal_spark.operators.dedup import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(e, block_col="label", threshold=0.35)
    p = pairs.select(
        F.lit("pair").alias("kind"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        _norm(F.col("cos"), 4).alias("x"),
    )
    centroids, _, _, _ = _fixed_quantizers(
        e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    )
    sem = semantic_dedup(e, centroids, threshold=0.35).select(
        F.lit("sem").alias("kind"),
        F.col("id").alias("a"),
        F.col("group").alias("b"),
        F.col("cell").cast("double").alias("x"),
    )
    return p.unionByName(sem)


ORACLE_NEARDUP = """
WITH RECURSIVE
c AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 16),
va AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT v.vec_id, v.embedding, c.cell,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_inner_product(c.cv::DOUBLE[], c.cv::DOUBLE[])
             - 2 * list_inner_product(v.embedding::DOUBLE[], c.cv::DOUBLE[]) ASC,
             c.cell ASC) AS rn
    FROM embeddings v CROSS JOIN c)
  WHERE rn = 1
),
p2 AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM va a JOIN va b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
),
e2 AS (SELECT id_a AS s, id_b AS t FROM p2 UNION ALL SELECT id_b, id_a FROM p2),
r AS (
  SELECT s AS id, s AS l FROM (SELECT DISTINCT s FROM e2) n
  UNION
  SELECT e2.t AS id, r.l FROM r JOIN e2 ON e2.s = r.id
),
g AS (SELECT id, MIN(l) AS grp FROM r GROUP BY id)
SELECT 'pair' AS kind, a.vec_id AS a, b.vec_id AS b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) + 0.0 AS x
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
UNION ALL
SELECT 'sem', va.vec_id, COALESCE(g.grp, va.vec_id), CAST(va.cell AS DOUBLE)
FROM va LEFT JOIN g ON g.id = va.vec_id
"""  # noqa: E501 — the 16 literal = _ANN_CELLS (defined below)


# ---------------------------------------------------------------------------
# Similarity search beyond broadcast brute force (similarity.py)
# ---------------------------------------------------------------------------

_LSH_D, _LSH_PLANES, _LSH_TABLES, _LSH_SEED, _LSH_K = 64, 6, 2, 7, 5


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact blocked kNN join: 64 queries, neither side broadcast."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 64)
    res = knn_join_blocked(
        emb, queries, k=10, metric="l2", num_qblocks=4, num_vblocks=4,
        id_col="vec_id", vec_col="embedding", qid_col="vec_id", qvec_col="embedding",
        compute="f64",  # oracle hash-exactness (library default: f32)
    )
    return res.select("qid", "rank", "label", _norm(F.col("distance"), 4).alias("distance"))


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-ANN, single-probe and multiprobe tagged: 'sp' rows are the
    plain bucket-join search; 'mp' rows probe 3 buckets per table on
    the query side (base + the 2 least-|margin| sign bits flipped, Lv
    et al. 2007) — more candidates, higher recall, the corpus bucketing
    untouched. Integer-exact projections make probe selection
    engine-exact, so both variants hash-match the SQL oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    planes = lsh_planes(_LSH_D, _LSH_PLANES, _LSH_TABLES, _LSH_SEED)
    queries = emb.where(F.col("vec_id") < 8)
    cols = lambda kind, df: df.select(  # noqa: E731
        F.lit(kind).alias("kind"), "qid", "rank", "label",
        _norm(F.col("distance"), 4).alias("distance"),
    )
    sp = ann_lsh_search(
        emb, queries, k=_LSH_K, planes=planes,
        id_col="vec_id", vec_col="embedding", qid_col="vec_id", qvec_col="embedding",
    )
    mp = ann_lsh_search(
        emb, queries, k=_LSH_K, planes=planes,
        id_col="vec_id", vec_col="embedding", qid_col="vec_id", qvec_col="embedding",
        n_probes=3,
    )
    return cols("sp", sp).unionByName(cols("mp", mp))


def _oracle_ann_lsh() -> str:
    planes = lsh_planes(_LSH_D, _LSH_PLANES, _LSH_TABLES, _LSH_SEED)

    def prj_structs(t: int) -> str:
        items = []
        for p in range(_LSH_PLANES):
            lits = ", ".join(f"{int(w)}.0" for w in planes[t][p])
            items.append(
                f"{{'p': {p}, 'prj': CAST(list_inner_product(qv::DOUBLE[], [{lits}]) AS BIGINT)}}"
            )
        return "[" + ", ".join(items) + "]"

    tables = "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS tbl, unnest({prj_structs(t)}, recursive := true) FROM vq"
        for t in range(_LSH_TABLES)
    )
    return f"""
WITH vq AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
prj AS ({tables}),
bkt AS (  -- base bucket per (row, table): packed sign bits
  SELECT vec_id, tbl,
         SUM(CASE WHEN prj > 0 THEN 1::BIGINT << p ELSE 0 END) AS bucket
  FROM prj GROUP BY vec_id, tbl
),
flips AS (  -- multiprobe order: |margin| asc, ties by plane index
  SELECT vec_id, tbl, p,
         row_number() OVER (PARTITION BY vec_id, tbl ORDER BY abs(prj), p) AS rn
  FROM prj
),
qprobe AS (  -- query probe set: base + 2 least-confident flips
  SELECT vec_id, tbl, bucket FROM bkt WHERE vec_id < 8
  UNION ALL
  SELECT f.vec_id, f.tbl, xor(b.bucket, 1::BIGINT << f.p)
  FROM flips f JOIN bkt b ON b.vec_id = f.vec_id AND b.tbl = f.tbl
  WHERE f.vec_id < 8 AND f.rn <= 2
),
cand_sp AS (
  SELECT DISTINCT q.vec_id AS qid, v.vec_id AS label
  FROM bkt q JOIN bkt v ON q.tbl = v.tbl AND q.bucket = v.bucket
  WHERE q.vec_id < 8
),
cand_mp AS (
  SELECT DISTINCT q.vec_id AS qid, v.vec_id AS label
  FROM qprobe q JOIN bkt v ON q.tbl = v.tbl AND q.bucket = v.bucket
),
scored AS (
  SELECT 'sp' AS kind, qid, label FROM cand_sp
  UNION ALL
  SELECT 'mp', qid, label FROM cand_mp
),
sc2 AS (
  SELECT s.kind, s.qid, s.label,
         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS dist
  FROM scored s JOIN embeddings a ON a.vec_id = s.qid
  JOIN embeddings b ON b.vec_id = s.label
),
r AS (
  SELECT kind, qid, label, dist,
         row_number() OVER (PARTITION BY kind, qid ORDER BY dist DESC, label ASC) - 1 AS rank
  FROM sc2
)
SELECT kind, qid, CAST(rank AS INTEGER) AS rank, label, ROUND(dist, 4) + 0.0 AS distance
FROM r WHERE rank < {_LSH_K}
"""


# mllib_index_build lane parameters, shared with the oracle generator:
# Lloyd k-means (8 cells seeded from rows id<8, 3 iterations, centroid
# means rounded to 6dp each pass), fixed-plane BRP-LSH (planes = rows
# 24..26, MLlib's default-ish bucket/threshold), exact kNN graph (k=5),
# permutation-rotation OPQ (seeded 64-perm, fixed books from the
# permuted first-256 rows).
_MLB_CELLS, _MLB_ITERS, _MLB_DP = 8, 3, 6
_MLB_PLANE_LO, _MLB_PLANE_HI = 24, 27
_MLB_BUCKET_LEN, _MLB_THRESH = 2.0, 1.2
_MLB_NNG_K = 5
# The 'nng' lane is the exact O(n²/B) kNN-graph ORACLE (it exists to
# hash-check the graph construction contract, not to be the production
# path — that's nn_descent), and the 'pair' lane's fixed bucket
# geometry admits pairs at a quadratic rate by construction (Σ n_b²
# over buckets; the production near-dup paths bound collision sets
# with banding/multiprobe). Cap BOTH at a FIXED deterministic sample
# so the lanes stay O(sample²) at any scale factor: ids < 768 covers
# the whole sf0.01 gate corpus (500 rows — hash unchanged) while
# keeping the sf≥0.1 receipts measuring the engine, not the oracle
# lanes (VERDICT r11 item #5; engine and DuckDB oracle filter
# identically).
_MLB_NNG_N = 768
_MLB_PERM_SEED = 4321


def _mlb_perm() -> "np.ndarray":
    return np.random.default_rng(_MLB_PERM_SEED).permutation(64)


def q_mllib_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed index-BUILD machinery, four lanes in one tagged
    result — HASH-CHECKED (VERDICT r9 #1): each lane runs the same
    distributed machinery as its stochastic trainer but with a
    deterministic, oracle-replayable parameterization; the stochastic
    trainers themselves (MLlib kmeans|| init, MLlib's private LSH
    family, NN-Descent, OPQ's alternating optimization) stay
    accuracy-pinned by tests/test_mllib_ann.py, test_knn_graph.py,
    test_opq.py — the same training-vs-machinery split every ann_*
    key uses (fixed quantizers, trainers test-pinned).

    'cell' rows: distributed Lloyd k-means (operators/mllib_ann.py::
    lloyd_kmeans — MLlib KMeans's own loop: driver-held centers,
    executor argmin assignment, partially-aggregated per-cell means;
    init = rows id<8, 3 iterations, 6dp-rounded updates) — a=cell,
    b=count, x=‖centroid‖². 'pair' rows: bucketed-random-projection
    LSH near-dup pairs with a FIXED plane family (rows 24..26) —
    a=id_a, b=id_b, x=dist. 'nng' rows: the exact kNN graph (k=5,
    blocked grid join, neither side broadcast) over the FIXED
    deterministic sample ids < _MLB_NNG_N (r12: the lane is the
    O(sample²) hash-check ORACLE for the graph-construction contract —
    the production path is nn_descent — so the cap keeps it
    constant-cost at any sf; the whole sf0.01 gate corpus sits inside
    the sample) — a=id, b=nbr, x=dist. 'opq' rows: OPQ
    rotate→encode→ADC with a
    FIXED permutation rotation (a permutation matrix IS orthogonal,
    so the full IndexPreTransform(OPQ, PQ) search path runs
    unchanged) — a=qid, b=label, x=distance."""
    from faiss_metal_spark.functions.vector import sqnorm
    from faiss_metal_spark.operators.mllib_ann import (
        brp_lsh_pairs_fixed,
        lloyd_kmeans,
    )
    from faiss_metal_spark.operators.opq import opq_encode, opq_search
    from pyspark.sql.window import Window

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    # r15 (guide §5 reuse-vs-recompute — the winnow materialize_grams
    # trade): this key re-reads the embeddings parquet ~20× (3 Lloyd
    # mean passes + the final assign, 4 build collects, and every
    # result lane's scans). localCheckpoint it ONCE inside the timed
    # query — each later pass reads block-manager memory instead of
    # re-running scan+project, and the Lloyd loop's per-iteration plan
    # stops re-growing lineage. Partitioning is preserved 1:1, so the
    # (cell,pos) mean aggregation sums in the same order and the
    # 6dp-rounded centroids are unchanged (oracle-verified at sf0.001/
    # 0.01/0.1). Not cross-run caching: no later query reads the
    # checkpoint, but its blocks do outlive this query — they stay in
    # the block manager until a JVM GC lets the ContextCleaner drop the
    # unreferenced RDD.
    emb = emb.localCheckpoint()

    # The build-time trainer actions (Lloyd's per-iteration means, the
    # plane/codebook row collects) are independent of each other — run
    # them from three threads so their small sequential jobs interleave
    # on the executor pool (the r9 concurrent-jobs pattern, kept to the
    # BUILD steps only: the four result lanes stay LAZY DataFrames, so
    # the returned plan — and PLANS.md — still carries every lane).
    from concurrent.futures import ThreadPoolExecutor

    def _train_lloyd():
        init = np.stack(
            emb.where(F.col("id") < _MLB_CELLS)
            .orderBy("id").toPandas()["vec"].to_numpy()
        ).astype(np.float64)
        return lloyd_kmeans(emb, init, iters=_MLB_ITERS, round_dp=_MLB_DP)

    def _collect_planes():
        return np.stack(
            emb.where(
                (F.col("id") >= _MLB_PLANE_LO) & (F.col("id") < _MLB_PLANE_HI)
            ).orderBy("id").toPandas()["vec"].to_numpy()
        ).astype(np.float64)

    def _collect_books():
        pdf = emb.where(F.col("id") < 256).orderBy("id").toPandas()
        return np.stack(pdf["vec"].to_numpy()).astype(np.float64)

    def _collect_queries():
        # r14: the opq lane's pq_search eagerly collects its query
        # batch for the ADC LUT broadcast — one more parquet scan job;
        # collect it here (overlapped with the other build steps) and
        # serve the lane from a LocalRelation (the ann_pq pattern)
        return (
            emb.where(F.col("id") < 8)
            .select(F.col("id").alias("qid"), "vec")
            .toPandas()
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_lloyd = pool.submit(_train_lloyd)
        f_planes = pool.submit(_collect_planes)
        f_books = pool.submit(_collect_books)
        f_q = pool.submit(_collect_queries)
        (C, assigned), planes, B = f_lloyd.result(), f_planes.result(), f_books.result()
        opq_queries = _local_queries(spark, f_q.result())

    # -- cell lane: Lloyd from the first-8 rows ------------------------
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(C)],
        "cell int, cv array<double>",
    )
    cells = (
        cents.join(
            assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")),
            "cell",
            "left",
        )
        .select(
            F.lit("cell").alias("kind"),
            F.col("cell").cast("long").alias("a"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("b"),
            _norm(sqnorm("cv"), 4).alias("x"),
        )
    )

    # -- pair lane: fixed-plane BRP-LSH bucket join over the fixed
    # sample (see _MLB_NNG_N — the fixed geometry is quadratic in
    # bucket occupancy by construction) -------------------------------
    pairs = brp_lsh_pairs_fixed(
        emb.where(F.col("id") < _MLB_NNG_N), planes,
        _MLB_BUCKET_LEN, _MLB_THRESH,
    ).select(
        F.lit("pair").alias("kind"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        _norm(F.col("dist"), 4).alias("x"),
    )

    # -- nng lane: exact kNN graph via the blocked grid join -----------
    # k+1 then drop self: self (dist 0) is always in the top-(k+1)
    # unless ≥k+1 exact duplicates outrank it, in which case the
    # survivors are still exactly the top-k non-self rows
    nng_src = emb.where(F.col("id") < _MLB_NNG_N)  # fixed-sample cap
    g = knn_join_blocked(
        nng_src, nng_src, k=_MLB_NNG_K + 1, metric="l2",
        num_qblocks=4, num_vblocks=4,
        id_col="id", vec_col="vec", qid_col="id", qvec_col="vec",
        compute="f64",  # oracle hash-exactness (library default: f32)
    ).where(F.col("label") != F.col("qid"))
    w = Window.partitionBy("qid").orderBy(
        F.col("distance").asc(), F.col("label").asc()
    )
    nng = (
        g.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _MLB_NNG_K)
        .select(
            F.lit("nng").alias("kind"),
            F.col("qid").alias("a"),
            F.col("label").alias("b"),
            _norm(F.col("distance"), 4).alias("x"),
        )
    )

    # -- opq lane: permutation-rotation OPQ ADC ------------------------
    perm = _mlb_perm()
    R = np.eye(64)[perm]  # rotated[j] = vec[perm[j]]; orthogonal
    Br = B[:, perm]  # books live in ROTATED space, like opq_train's
    books = np.stack(
        [Br[:, j * _PQ_DSUB : (j + 1) * _PQ_DSUB] for j in range(_PQ_M)]
    )
    opq = opq_search(
        opq_encode(emb, R, books), R, books,
        opq_queries,
        k=10,
    ).select(
        F.lit("opq").alias("kind"),
        F.col("qid").alias("a"),
        F.col("label").alias("b"),
        _norm(F.col("distance"), 4).alias("x"),
    )

    return cells.unionByName(pairs).unionByName(nng).unionByName(opq)


def _oracle_mllib_index_build() -> str:
    """DuckDB replay of all four q_mllib_index_build lanes. The Lloyd
    loop unrolls to one (assign, means, carry) CTE triple per
    iteration — the 6dp rounding after each means step is what keeps
    two engines summing in different orders bit-identical; empty cells
    carry the previous centroid via the LEFT JOIN, exactly like the
    engine's newC = C.copy() default."""
    k, d, dp = _MLB_CELLS, _PQ_M * _PQ_DSUB, _MLB_DP
    blen, thresh = _MLB_BUCKET_LEN, _MLB_THRESH
    m, dsub = _PQ_M, _PQ_DSUB
    ctes = [
        f"""k0 AS (
  SELECT vec_id AS cell, embedding::DOUBLE[] AS cv FROM embeddings
  WHERE vec_id < {k}
)"""
    ]
    for t in range(1, _MLB_ITERS + 1):
        prev = f"k{t - 1}"
        means = ", ".join(
            f"round(avg(embedding[{i + 1}]), {dp})" for i in range(d)
        )
        ctes.append(f"""a{t} AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT v.vec_id, v.embedding, c.cell,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_inner_product(c.cv, c.cv)
             - 2 * list_inner_product(v.embedding::DOUBLE[], c.cv) ASC,
             c.cell ASC) AS rn
    FROM embeddings v CROSS JOIN {prev} c)
  WHERE rn = 1
)""")
        ctes.append(f"""m{t} AS (
  SELECT cell, [{means}]::DOUBLE[] AS mv FROM a{t} GROUP BY cell
)""")
        ctes.append(f"""k{t} AS (
  SELECT c.cell, CASE WHEN m.mv IS NULL THEN c.cv ELSE m.mv END AS cv
  FROM {prev} c LEFT JOIN m{t} m ON m.cell = c.cell
)""")
    last = f"k{_MLB_ITERS}"
    perm_lit = "[" + ", ".join(str(int(p) + 1) for p in _mlb_perm()) + "]"
    body = f"""afin AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_inner_product(c.cv, c.cv)
             - 2 * list_inner_product(v.embedding::DOUBLE[], c.cv) ASC,
             c.cell ASC) AS rn
    FROM embeddings v CROSS JOIN {last} c)
  WHERE rn = 1
),
ccnt AS (SELECT cell, count(*) AS n FROM afin GROUP BY cell),
cellrows AS (
  SELECT 'cell' AS kind, c.cell AS a, COALESCE(ccnt.n, 0) AS b,
         round(list_inner_product(c.cv, c.cv), 4) + 0.0 AS x
  FROM {last} c LEFT JOIN ccnt ON ccnt.cell = c.cell
),
-- pair lane: fixed planes = rows {_MLB_PLANE_LO}..{_MLB_PLANE_HI - 1};
-- h = floor(<v, p> / (||p|| * bucket_length)), collisions in ANY table
pl AS (
  SELECT vec_id - {_MLB_PLANE_LO} AS t, embedding::DOUBLE[] AS pv
  FROM embeddings WHERE vec_id >= {_MLB_PLANE_LO} AND vec_id < {_MLB_PLANE_HI}
),
ph AS (
  SELECT v.vec_id AS id, p.t,
         floor(list_inner_product(v.embedding::DOUBLE[], p.pv)
               / (sqrt(list_inner_product(p.pv, p.pv)) * {blen})) AS h
  FROM embeddings v CROSS JOIN pl p
  WHERE v.vec_id < {_MLB_NNG_N}
),
pcand AS (
  SELECT DISTINCT pa.id AS id_a, pb.id AS id_b
  FROM ph pa JOIN ph pb ON pa.t = pb.t AND pa.h = pb.h AND pa.id < pb.id
),
pairrows AS (
  SELECT 'pair' AS kind, id_a AS a, id_b AS b, round(dist, 4) + 0.0 AS x FROM (
    SELECT c.id_a, c.id_b,
           sqrt(list_sum([(z[1] - z[2]) * (z[1] - z[2]) FOR z IN
                 list_zip(va.embedding::DOUBLE[], vb.embedding::DOUBLE[])])) AS dist
    FROM pcand c
    JOIN embeddings va ON va.vec_id = c.id_a
    JOIN embeddings vb ON vb.vec_id = c.id_b)
  WHERE dist <= {thresh}
),
-- nng lane: exact top-{_MLB_NNG_K} graph over the FIXED sample
-- (ids < {_MLB_NNG_N} — the whole corpus at the sf0.01 gate), self excluded
ng AS (
  SELECT va.vec_id AS id, vb.vec_id AS nbr,
         GREATEST(list_inner_product(va.embedding::DOUBLE[], va.embedding::DOUBLE[])
           + list_inner_product(vb.embedding::DOUBLE[], vb.embedding::DOUBLE[])
           - 2 * list_inner_product(va.embedding::DOUBLE[], vb.embedding::DOUBLE[]), 0.0) AS dist
  FROM embeddings va JOIN embeddings vb ON va.vec_id <> vb.vec_id
  WHERE va.vec_id < {_MLB_NNG_N} AND vb.vec_id < {_MLB_NNG_N}
),
nngrows AS (
  SELECT 'nng' AS kind, id AS a, nbr AS b, round(dist, 4) + 0.0 AS x FROM (
    SELECT id, nbr, dist,
           row_number() OVER (PARTITION BY id ORDER BY dist ASC, nbr ASC) AS rn
    FROM ng)
  WHERE rn <= {_MLB_NNG_K}
),
-- opq lane: rotate by the FIXED permutation (list_select), then the
-- same argmin-encode / ADC arithmetic as the ann_pq 'pq' lane over
-- books = permuted first-256 rows
osub AS (SELECT j FROM range({m}) t(j)),
orv AS (
  SELECT vec_id AS id, list_select(embedding::DOUBLE[], {perm_lit}) AS vr
  FROM embeddings
),
ob AS (
  SELECT id AS ck, j, list_slice(vr, j*{dsub} + 1, j*{dsub} + {dsub}) AS cj
  FROM orv CROSS JOIN osub WHERE id < 256
),
ovs AS (
  SELECT id, j, list_slice(vr, j*{dsub} + 1, j*{dsub} + {dsub}) AS vj
  FROM orv CROSS JOIN osub
),
oenc AS (
  SELECT id, j, ck FROM (
    SELECT ovs.id, ovs.j, ob.ck,
           row_number() OVER (PARTITION BY ovs.id, ovs.j ORDER BY
             list_inner_product(ob.cj, ob.cj)
             - 2 * list_inner_product(ovs.vj, ob.cj) ASC,
             ob.ck ASC) AS rn
    FROM ovs JOIN ob ON ovs.j = ob.j)
  WHERE rn = 1
),
oqs AS (SELECT id AS qid, j, vj AS qj FROM ovs WHERE id < 8),
oadc AS (
  SELECT oqs.qid, oenc.id AS label,
         SUM(list_inner_product(oqs.qj, oqs.qj) + list_inner_product(ob.cj, ob.cj)
             - 2 * list_inner_product(oqs.qj, ob.cj)) AS dist
  FROM oqs
  JOIN oenc ON oenc.j = oqs.j
  JOIN ob ON ob.j = oenc.j AND ob.ck = oenc.ck
  GROUP BY oqs.qid, oenc.id
),
opqrows AS (
  SELECT 'opq' AS kind, qid AS a, label AS b, round(dist, 4) + 0.0 AS x FROM (
    SELECT qid, label, dist,
           row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) AS rn
    FROM oadc)
  WHERE rn <= 10
)
SELECT kind, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, x FROM (
  SELECT * FROM cellrows
  UNION ALL SELECT * FROM pairrows
  UNION ALL SELECT * FROM nngrows
  UNION ALL SELECT * FROM opqrows
)"""
    return "WITH " + ",\n".join(ctes) + ",\n" + body


# Fixed-quantizer discipline for the ANN oracle rows: the SEARCH stages
# (cell assignment, probe selection, PQ encode, ADC gather, top-k merge)
# are fully deterministic given the quantizers, so the quantizers are
# taken from the data itself (first-n embedding rows — identical literals
# on both engines) instead of iterative training, and the whole pipeline
# hash-matches a DuckDB oracle. Training stays covered by
# tests/test_pq.py / test_similarity.py / test_mllib_ann.py (recall and
# exactness pins) — the reference applies the same split: deterministic
# comparisons against CPU FAISS for search, accuracy bounds for training
# (/root/reference/tests/test_metal_flat.mm:72-122).
_PQ_M, _PQ_DSUB, _ANN_CELLS, _ANN_NPROBE = 8, 8, 16, 4
# LSHIndex lane: few enough bits to keep the literal-rotation oracle
# compact; Hamming ties are broken by ascending label on BOTH engines,
# so heavy 16-bit ties stay hash-stable
_LSH_NBITS, _LSH_SEED = 16, 77
_BHASH_B = 12  # IndexBinaryHash prefix width for the bhash lane
# Polysemous lane: the RELABELING + Hamming-filter + ADC machinery is
# deterministic given a permutation, so the lane uses a FIXED seeded
# permutation (shared literal between engine and oracle) and a fixed
# ht; the simulated-annealing trainer itself is iterative and stays
# test-pinned (tests/test_polysemous.py alignment improvement), the
# same split every trainer here gets.
_POLY_HT = 24


def _poly_perm() -> "np.ndarray":
    return np.random.default_rng(4242).permutation(256)


def _poly_perm_values() -> str:
    """(ck, pck) VALUES literal of the shared poly-lane permutation."""
    return ", ".join(f"({i}, {int(p)})" for i, p in enumerate(_poly_perm()))


def _fixed_quantizers(emb: DataFrame):
    """(centroids (16, 64), flat codebooks (8, 256, 8), residual
    codebooks (8, 256, 8), refine codebooks (8, 256, 8)) — all derived
    from embedding rows id < 256; the refine books are the
    second-level residuals (what the first residual PQ missed) of the
    same rows, encoded with the engine's own assign/decode helpers so
    the arithmetic can never drift from ivfpqr_encode."""
    pdf = emb.where(F.col("id") < 256).orderBy("id").toPandas()
    B = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
    if len(B) < 256:
        raise ValueError(f"need 256 embedding rows for fixed codebooks, got {len(B)}")
    centroids = B[:_ANN_CELLS].copy()
    slices = [B[:, j * _PQ_DSUB : (j + 1) * _PQ_DSUB] for j in range(_PQ_M)]
    books = np.stack(slices)
    # residual codebook entries: the same 256 rows' residuals wrt their
    # own nearest centroid (the assignment formula ivf_assign uses)
    cn = (centroids * centroids).sum(1)
    assign = (cn[None, :] - 2.0 * (B @ centroids.T)).argmin(1)
    R = B - centroids[assign]
    rbooks = np.stack([R[:, j * _PQ_DSUB : (j + 1) * _PQ_DSUB] for j in range(_PQ_M)])
    from faiss_metal_spark.operators.pq import pq_assign_np, pq_decode_np

    R2 = R - pq_decode_np(pq_assign_np(R, rbooks), rbooks)
    rbooks2 = np.stack(
        [R2[:, j * _PQ_DSUB : (j + 1) * _PQ_DSUB] for j in range(_PQ_M)]
    )
    return centroids, books, rbooks, rbooks2


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, both architectures tagged in one
    result: 'pq' rows are flat ADC over 8-byte codes (64-dim FP32
    256 B → 8 B, 32×), 'pq4' rows the 4-bit code width (faiss PQ8x4 —
    16 fixed entries per subspace, same ADC arithmetic), 'fs' rows the
    fast-scan layout over the same 4-bit books (faiss PQ8x4fs: two
    codes per stored byte, fused byte-LUT ADC — layout only, so the
    oracle lane is pq4's ranking verbatim), 'ivfpq' rows
    add the coarse quantizer (probe 4
    of 16 cells, residual ADC — FAISS IndexIVFPQ), 'refine' rows are
    two-stage retrieval (FAISS IndexRefineFlat: flat-ADC top-40
    candidates exactly rescored against the full vectors, re-ranked to
    top-10), and 'ivfpqr' rows are the faiss IndexIVFPQR machinery: a
    second refine PQ over the residual-of-residual re-ranks the IVFPQ
    ADC top-40 on the two-level reconstruction — plus 'rq' rows: the
    residual quantizer (faiss IndexResidualQuantizer, operators/rq.py)
    with two FIXED full-width stages (stage 0 = the 16 centroid rows,
    stage 1 = rows 16..31's stage-0 residuals), so the sequential
    encode chain + additive-identity LUT search hash-match the
    oracle's decode-then-score arithmetic — and 'prq' rows: the
    product-of-residual-quantizers (faiss
    IndexProductResidualQuantizer, r11), the rq recipe applied
    independently per 32-dim coordinate block — and 'ivfrq' rows (r12):
    the faiss IndexIVFResidualQuantizer composition (operators/rq.py
    ivfrq_*): each vector's COARSE-CELL residual encoded by one fixed
    16-codeword additive stage (the rq lane's r1 book), search probing
    4 of 16 cells with the extended additive identity, so assignment +
    residual encode + in-cell LUT scan hash-match the oracle's
    decode-then-score over probed cells. Codebooks are FIXED
    (first-256 embedding rows / their residuals / their second-level
    residuals), so encode + ADC + top-k + rescore + refine-rerank all
    hash-match the DuckDB oracle; iterative training is pinned
    separately by tests/test_pq.py, tests/test_ivfpqr.py, tests/test_rq.py
    and tests/test_prq.py."""
    from faiss_metal_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_search,
        ivfpqr_encode,
        ivfpqr_search,
        pq_encode,
        pq_search,
        refine_search,
    )
    from faiss_metal_spark.operators.rq import rq_assign_np, rq_encode, rq_search

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    # collect the 8 query rows ONCE and serve every lane from a local
    # relation: each lane's eager LUT build calls queries.toPandas(),
    # and 9 lanes × a parquet scan+filter job was ~2s of pure per-job
    # overhead at sf0.1 — a LocalRelation source makes each of those a
    # millisecond-scale local collect instead (values identical)
    # Every lane's search constructor eagerly collects the query batch
    # (its LUT broadcast needs host-side queries), ~0.25 s of fixed
    # per-job cost each × 10 lanes. The lanes are independent given the
    # shared precursors, so they build from a thread pool — the r10
    # ann_compact pattern (commit 5344e7a), build steps only: the lane
    # DataFrames stay lazy, the returned plan still carries every lane.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_q = pool.submit(
            lambda: emb.where(F.col("id") < 8)
            .select(F.col("id").alias("qid"), "vec")
            .toPandas()
        )
        f_fixed = pool.submit(_fixed_quantizers, emb)
        qpdf = f_q.result()
        centroids, books, rbooks, rbooks2 = f_fixed.result()
    queries = _local_queries(spark, qpdf)

    codes = pq_encode(emb, books)
    # pq4/fs lanes: the 4-bit code width (faiss PQ8x4) over the first
    # SIXTEEN fixed codebook entries per subspace; 'fs' is the same
    # books with codes packed two per byte + fused byte-LUT ADC —
    # layout only, so the oracle lane reuses pq4's CTE
    books4 = books[:, :16, :].copy()
    assigned = ivf_assign(emb, centroids)
    rcodes = ivfpq_encode(assigned, centroids, rbooks)
    rcodes2 = ivfpqr_encode(assigned, centroids, rbooks, rbooks2)

    # rq lane books: two fixed full-width stages (16 codewords each) —
    # stage 0 is the centroid rows; stage 1 is rows 16..31's residuals
    # after a stage-0 encode, derived with the engine's own codec
    # helper so the arithmetic can never drift from rq_encode
    B = np.concatenate(list(books), axis=1)  # the first-256 rows, re-joined
    seed = B[16:32]
    r1 = seed - centroids[rq_assign_np(seed, centroids[None, :, :])[:, 0]]
    rqbooks = np.stack([centroids, r1])

    # prq lane books (faiss IndexProductResidualQuantizer, r11): the rq
    # recipe per 32-dim coordinate block
    pb = []
    for sl in (slice(0, 32), slice(32, 64)):
        b0 = centroids[:, sl]
        r1b = seed[:, sl] - b0[rq_assign_np(seed[:, sl], b0[None, :, :])[:, 0]]
        pb.append(np.stack([b0, r1b]))
    prqbooks = np.stack(pb)  # (2 blocks, 2 stages, 16, 32)

    # poly lane books: codes + books relabel by a fixed permutation
    # (distance-invisible), then the Hamming-gated ADC at ht=_POLY_HT
    from faiss_metal_spark.operators.polysemous import (
        apply_polysemous,
        polysemous_search,
    )
    from faiss_metal_spark.operators.rq import (
        ivfrq_encode,
        ivfrq_search,
        prq_encode,
        prq_search,
    )

    perm = _poly_perm()
    pbooks, pcodes = apply_polysemous(
        books, codes, np.tile(perm, (_PQ_M, 1))
    )

    with ThreadPoolExecutor(max_workers=10) as pool:
        f_flat = pool.submit(pq_search, codes, books, queries, 10)
        f_flat4 = pool.submit(
            lambda: pq_search(pq_encode(emb, books4), books4, queries, k=10)
        )
        f_fs = pool.submit(
            lambda: pq_search(
                pq_encode(emb, books4, pack4=True), books4, queries,
                k=10, packed4=True,
            )
        )
        f_ivf = pool.submit(
            lambda: ivfpq_search(
                rcodes, centroids, rbooks, queries, k=10, nprobe=_ANN_NPROBE
            )
        )
        f_ref = pool.submit(
            lambda: refine_search(emb, codes, books, queries, k=10,
                                  refine_factor=4)
        )
        f_pqr = pool.submit(
            lambda: ivfpqr_search(
                rcodes2, centroids, rbooks, rbooks2, queries,
                k=10, nprobe=_ANN_NPROBE, k_factor=4,
            )
        )
        f_rq = pool.submit(
            lambda: rq_search(rq_encode(emb, rqbooks), rqbooks, queries, k=10)
        )
        # ivfrq lane (faiss IndexIVFResidualQuantizer, r12): the SAME
        # fixed stage book r1 encodes each vector's COARSE-CELL residual
        # in a cell-partitioned inverted file (by_residual=True);
        # reconstruction = centroid(cell) + codeword — the rq lane's
        # arithmetic — but search scans only the probed cells
        f_ivfrq = pool.submit(
            lambda: ivfrq_search(
                ivfrq_encode(assigned, centroids, r1[None, :, :]),
                centroids, r1[None, :, :], queries, k=10,
                nprobe=_ANN_NPROBE,
            )
        )
        f_prq = pool.submit(
            lambda: prq_search(prq_encode(emb, prqbooks), prqbooks,
                               queries, k=10)
        )
        f_poly = pool.submit(
            lambda: polysemous_search(pcodes, pbooks, queries, k=10,
                                      ht=_POLY_HT)
        )
        flat, flat4, fs = f_flat.result(), f_flat4.result(), f_fs.result()
        ivf, ref, pqr = f_ivf.result(), f_ref.result(), f_pqr.result()
        rq_rows, ivfrq_rows = f_rq.result(), f_ivfrq.result()
        prq_rows = f_prq.result()
        poly = f_poly.result().where(
            F.col("label") >= 0  # the oracle emits only real rows
        )

    out_cols = lambda kind, df: df.select(  # noqa: E731
        F.lit(kind).alias("path"), "qid", "rank", "label",
        _norm(F.col("distance"), 4).alias("distance"),
    )
    return (
        out_cols("pq", flat)
        .unionByName(out_cols("pq4", flat4))
        .unionByName(out_cols("fs", fs))
        .unionByName(out_cols("ivfpq", ivf))
        .unionByName(out_cols("refine", ref))
        .unionByName(out_cols("ivfpqr", pqr))
        .unionByName(out_cols("rq", rq_rows))
        .unionByName(out_cols("ivfrq", ivfrq_rows))
        .unionByName(out_cols("prq", prq_rows))
        .unionByName(out_cols("poly", poly))
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-quantized probe search, both quantizer families tagged in
    one result: 'ivf' rows use FIXED flat centroids (first-16 embedding
    rows), 'imi' rows the FIXED product quantizer (faiss
    MultiIndexQuantizer: the same 16 rows' dim-halves as the two
    sub-centroid sets → 256 composite cells, probe ranking = summed
    per-half distance tables). Cell assignment, probe selection and
    per-cell exact search all hash-match the DuckDB oracle; k-means
    training is pinned separately (tests/test_similarity.py,
    tests/test_imi.py)."""
    from faiss_metal_spark.operators.similarity import (
        imi_assign,
        imi_probe_cells,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    # r14 (guide §2.6/§5): each of the FOUR lanes' search constructors
    # eagerly collects the query batch for its probe-map broadcast —
    # four parquet scan+filter jobs of pure per-job floor. Collect the
    # 8 query rows ONCE (overlapped with the quantizer collect from a
    # thread) and serve every lane from a LocalRelation, the ann_pq
    # r12 pattern: each lane's collect becomes a driver-local
    # millisecond op, values identical.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_q = pool.submit(
            lambda: emb.where(F.col("id") < 8)
            .select(F.col("id").alias("qid"), "vec")
            .toPandas()
        )
        f_fixed = pool.submit(_fixed_quantizers, emb)
        qpdf = f_q.result()
        centroids, _, _, _ = f_fixed.result()
    queries = _local_queries(spark, qpdf)
    assigned = ivf_assign(emb, centroids)
    res = ivf_search(assigned, centroids, queries, k=10, nprobe=_ANN_NPROBE)

    C0 = centroids[:, : centroids.shape[1] // 2].copy()
    C1 = centroids[:, centroids.shape[1] // 2 :].copy()
    imi_rows = ivf_search(
        imi_assign(emb, C0, C1), None, queries, k=10, nprobe=_ANN_NPROBE,
        probe_cells=imi_probe_cells(C0, C1),
    )

    # 'dedup' rows: IVFFlatDedup expansion (faiss IndexIVFFlatDedup) over
    # a logical corpus with planted exact duplicates — ids < 24 repeated
    # at id+1000. The dedup build stores each distinct vector ONCE (the
    # min-id representative = the original row) and search expands stored
    # hits back to duplicate ids at the same distance; the oracle ranks
    # the probed logical corpus directly, so a hash match pins both the
    # side-map bookkeeping and the expansion re-rank.
    from faiss_metal_spark import IVFFlatDedupIndex

    logical = emb.unionByName(
        emb.where(F.col("id") < 24).select(
            (F.col("id") + 1000).alias("id"), "vec"
        )
    )
    reps, inst = IVFFlatDedupIndex._dedup_rows(logical)
    dedup_idx = IVFFlatDedupIndex(
        spark, 64, "l2", centroids, ivf_assign(reps, centroids), inst
    )
    dedup_rows = dedup_idx.search(queries, k=10, nprobe=_ANN_NPROBE)

    # 'gq' rows (r13): the GRAPH coarse quantizer (faiss
    # IVF<n>_HNSW<M> — operators/coarse.py) at FULL COVERAGE:
    # landmarks = every cell, beam = nlist, f64 scoring — the beam walk
    # is then provably the exact f64 argmin ranking, so DuckDB replays
    # it as plain nearest-centroid (the same 'r' CTE as the 'ivf'
    # lane). Assignment AND probe selection both run through the
    # quantizer's real beam path — this puts the graph machinery,
    # not a test double, under the hash gate.
    from faiss_metal_spark import HNSWCoarseQuantizer
    from faiss_metal_spark.operators.coarse import exact_knn_graph_np

    gq = HNSWCoarseQuantizer(
        centroids, exact_knn_graph_np(centroids, 4),
        np.arange(len(centroids)), beam=len(centroids), rounds=2,
        dtype="f64",
    )
    gq_rows = ivf_search(
        ivf_assign(emb, centroids, assigner=gq), None, queries, k=10,
        nprobe=_ANN_NPROBE, probe_cells=gq.probe_fn(_ANN_NPROBE),
    )

    tag = lambda kind, df: df.select(  # noqa: E731
        F.lit(kind).alias("path"), "qid", "rank", "label",
        _norm(F.col("distance"), 4).alias("distance"),
    )
    return (
        tag("ivf", res)
        .unionByName(tag("imi", imi_rows))
        .unionByName(tag("dedup", dedup_rows))
        .unionByName(tag("gq", gq_rows))
    )


# -- DuckDB oracles for the fixed-quantizer ANN rows ------------------------
# Shared CTE fragments: c = fixed centroids, q = queries, va = cell
# assignment by the engine's own argmin decomposition ‖c‖² − 2·v·c.

_SQL_ANN_COMMON = f"""
c AS (
  SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < {_ANN_CELLS}
),
q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8
),
va AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT v.vec_id, v.embedding, c.cell,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_inner_product(c.cv::DOUBLE[], c.cv::DOUBLE[])
             - 2 * list_inner_product(v.embedding::DOUBLE[], c.cv::DOUBLE[]) ASC,
             c.cell ASC) AS rn
    FROM embeddings v CROSS JOIN c)
  WHERE rn = 1
),
probe AS (
  SELECT qid, cell FROM (
    SELECT q.qid, c.cell,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             list_inner_product(c.cv::DOUBLE[], c.cv::DOUBLE[])
             - 2 * list_inner_product(q.qv::DOUBLE[], c.cv::DOUBLE[]) ASC,
             c.cell ASC) AS rn
    FROM q CROSS JOIN c)
  WHERE rn <= {_ANN_NPROBE}
)"""

ORACLE_ANN_IVF = f"""
WITH {_SQL_ANN_COMMON},
d AS (
  SELECT q.qid, va.vec_id AS label,
         GREATEST(list_inner_product(q.qv::DOUBLE[], q.qv::DOUBLE[])
           + list_inner_product(va.embedding::DOUBLE[], va.embedding::DOUBLE[])
           - 2 * list_inner_product(q.qv::DOUBLE[], va.embedding::DOUBLE[]), 0.0) AS dist
  FROM probe p
  JOIN q ON q.qid = p.qid
  JOIN va ON va.cell = p.cell
),
r AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM d
),
-- IMI lane: the same 16 fixed rows' dim-halves are the two sub-centroid
-- sets; composite cell = a0·16 + a1 (independent per-half argmin by the
-- engine's cn − 2·v·c decomposition), probe ranking = d0 + d1
ic AS (
  SELECT cell AS ck,
         list_slice(cv::DOUBLE[], 1, {_PQ_M * _PQ_DSUB // 2}) AS h0,
         list_slice(cv::DOUBLE[], {_PQ_M * _PQ_DSUB // 2 + 1}, {_PQ_M * _PQ_DSUB}) AS h1
  FROM c
),
iva AS (
  SELECT a0.vec_id, a0.embedding, a0.ck * {_ANN_CELLS} + a1.ck AS cell
  FROM (
    SELECT vec_id, embedding, ck FROM (
      SELECT v.vec_id, v.embedding, ic.ck,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY
               list_inner_product(ic.h0, ic.h0)
               - 2 * list_inner_product(list_slice(v.embedding::DOUBLE[], 1, {_PQ_M * _PQ_DSUB // 2}), ic.h0) ASC,
               ic.ck ASC) AS rn
      FROM embeddings v CROSS JOIN ic)
    WHERE rn = 1
  ) a0
  JOIN (
    SELECT vec_id, ck FROM (
      SELECT v.vec_id, ic.ck,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY
               list_inner_product(ic.h1, ic.h1)
               - 2 * list_inner_product(list_slice(v.embedding::DOUBLE[], {_PQ_M * _PQ_DSUB // 2 + 1}, {_PQ_M * _PQ_DSUB}), ic.h1) ASC,
               ic.ck ASC) AS rn
      FROM embeddings v CROSS JOIN ic)
    WHERE rn = 1
  ) a1 ON a1.vec_id = a0.vec_id
),
iprobe AS (
  SELECT qid, cell FROM (
    SELECT q.qid, c0.ck * {_ANN_CELLS} + c1.ck AS cell,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             (list_inner_product(c0.h0, c0.h0)
              - 2 * list_inner_product(list_slice(q.qv::DOUBLE[], 1, {_PQ_M * _PQ_DSUB // 2}), c0.h0))
             + (list_inner_product(c1.h1, c1.h1)
              - 2 * list_inner_product(list_slice(q.qv::DOUBLE[], {_PQ_M * _PQ_DSUB // 2 + 1}, {_PQ_M * _PQ_DSUB}), c1.h1)) ASC,
             c0.ck * {_ANN_CELLS} + c1.ck ASC) AS rn
    FROM q CROSS JOIN ic c0 CROSS JOIN ic c1)
  WHERE rn <= {_ANN_NPROBE}
),
id_ AS (
  SELECT q.qid, iva.vec_id AS label,
         GREATEST(list_inner_product(q.qv::DOUBLE[], q.qv::DOUBLE[])
           + list_inner_product(iva.embedding::DOUBLE[], iva.embedding::DOUBLE[])
           - 2 * list_inner_product(q.qv::DOUBLE[], iva.embedding::DOUBLE[]), 0.0) AS dist
  FROM iprobe p
  JOIN q ON q.qid = p.qid
  JOIN iva ON iva.cell = p.cell
),
ir AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM id_
)
,
-- dedup lane: logical corpus = embeddings plus ids<24 duplicated at
-- id+1000; the dedup store's distinct rows ARE the original embeddings
-- (min-id representative), and a duplicate lands in its twin's cell, so
-- the probed logical candidates = probed stored rows ∪ their duplicate
-- ids at the identical distance
dd AS (
  SELECT qid, label, dist FROM d
  UNION ALL
  SELECT qid, label + 1000 AS label, dist FROM d WHERE label < 24
),
ddr AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM dd
)
SELECT 'ivf' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM r WHERE rank < 10
UNION ALL
SELECT 'imi' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM ir WHERE rank < 10
UNION ALL
SELECT 'dedup' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM ddr WHERE rank < 10
UNION ALL
-- gq lane: the graph coarse quantizer at full coverage (landmarks =
-- all cells, beam = nlist, f64) is provably the exact argmin, so the
-- oracle is the plain nearest-centroid ranking — identical rows to
-- 'ivf', replayed under the 'gq' tag
SELECT 'gq' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM r WHERE rank < 10
"""


def _oracle_ann_pq() -> str:
    m, dsub = _PQ_M, _PQ_DSUB
    return f"""
WITH {_SQL_ANN_COMMON},
sub AS (SELECT j FROM range({m}) t(j)),
b AS (
  SELECT vec_id AS ck, embedding AS bv FROM embeddings WHERE vec_id < 256
),
cs AS (  -- flat codebook entries: subspace slices of the first 256 rows
  SELECT ck, j, list_slice(bv::DOUBLE[], j*{dsub} + 1, j*{dsub} + {dsub}) AS cj
  FROM b CROSS JOIN sub
),
vs AS (
  SELECT v.vec_id AS id, j,
         list_slice(v.embedding::DOUBLE[], j*{dsub} + 1, j*{dsub} + {dsub}) AS vj
  FROM embeddings v CROSS JOIN sub
),
enc AS (  -- per-subspace nearest codebook entry (engine's argmin form)
  SELECT id, j, ck FROM (
    SELECT vs.id, vs.j, cs.ck,
           row_number() OVER (PARTITION BY vs.id, vs.j ORDER BY
             list_inner_product(cs.cj, cs.cj)
             - 2 * list_inner_product(vs.vj, cs.cj) ASC,
             cs.ck ASC) AS rn
    FROM vs JOIN cs ON vs.j = cs.j)
  WHERE rn = 1
),
qs AS (
  SELECT qid, j, list_slice(qv::DOUBLE[], j*{dsub} + 1, j*{dsub} + {dsub}) AS qj
  FROM q CROSS JOIN sub
),
adc AS (  -- asymmetric distance: sum of per-subspace ‖q_j − c_code‖²
  SELECT qs.qid, enc.id AS label,
         SUM(list_inner_product(qs.qj, qs.qj) + list_inner_product(cs.cj, cs.cj)
             - 2 * list_inner_product(qs.qj, cs.cj)) AS dist
  FROM qs
  JOIN enc ON enc.j = qs.j
  JOIN cs ON cs.j = enc.j AND cs.ck = enc.ck
  GROUP BY qs.qid, enc.id
),
rf AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM adc
),
-- pq4 lane: the 4-bit code width (faiss PQ{m}x4) — the SAME argmin /
-- ADC arithmetic over the first SIXTEEN codebook entries per subspace
cs4 AS (SELECT ck, j, cj FROM cs WHERE ck < 16),
enc4 AS (
  SELECT id, j, ck FROM (
    SELECT vs.id, vs.j, cs4.ck,
           row_number() OVER (PARTITION BY vs.id, vs.j ORDER BY
             list_inner_product(cs4.cj, cs4.cj)
             - 2 * list_inner_product(vs.vj, cs4.cj) ASC,
             cs4.ck ASC) AS rn
    FROM vs JOIN cs4 ON vs.j = cs4.j)
  WHERE rn = 1
),
adc4 AS (
  SELECT qs.qid, enc4.id AS label,
         SUM(list_inner_product(qs.qj, qs.qj) + list_inner_product(cs4.cj, cs4.cj)
             - 2 * list_inner_product(qs.qj, cs4.cj)) AS dist
  FROM qs
  JOIN enc4 ON enc4.j = qs.j
  JOIN cs4 ON cs4.j = enc4.j AND cs4.ck = enc4.ck
  GROUP BY qs.qid, enc4.id
),
rf4 AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM adc4
),
vres AS (  -- residual of every vector wrt its own cell
  SELECT va.vec_id, va.cell,
         [x[1] - x[2] FOR x IN list_zip(va.embedding::DOUBLE[], c.cv::DOUBLE[])] AS rv
  FROM va JOIN c ON c.cell = va.cell
),
rb AS (  -- residual codebook entries: slices of the first-256 residuals
  SELECT vec_id AS ck, j, list_slice(rv, j*{dsub} + 1, j*{dsub} + {dsub}) AS cj
  FROM vres CROSS JOIN sub WHERE vec_id < 256
),
renc AS (  -- residual codes for all vectors
  SELECT id, j, ck FROM (
    SELECT vr.vec_id AS id, rb.j, rb.ck,
           row_number() OVER (PARTITION BY vr.vec_id, rb.j ORDER BY
             list_inner_product(rb.cj, rb.cj)
             - 2 * list_inner_product(
                 list_slice(vr.rv, rb.j*{dsub} + 1, rb.j*{dsub} + {dsub}), rb.cj) ASC,
             rb.ck ASC) AS rn
    FROM vres vr CROSS JOIN rb)
  WHERE rn = 1
),
qres AS (  -- per (query, probed cell) query residual
  SELECT p.qid, p.cell,
         [x[1] - x[2] FOR x IN list_zip(q.qv::DOUBLE[], c.cv::DOUBLE[])] AS rq
  FROM probe p JOIN q ON q.qid = p.qid JOIN c ON c.cell = p.cell
),
radc AS (  -- residual ADC within probed cells, clamped at 0 like the engine
  SELECT qres.qid, renc.id AS label,
         GREATEST(SUM(
           list_inner_product(
             list_slice(qres.rq, renc.j*{dsub} + 1, renc.j*{dsub} + {dsub}),
             list_slice(qres.rq, renc.j*{dsub} + 1, renc.j*{dsub} + {dsub}))
           + list_inner_product(rb.cj, rb.cj)
           - 2 * list_inner_product(
               list_slice(qres.rq, renc.j*{dsub} + 1, renc.j*{dsub} + {dsub}), rb.cj)
         ), 0.0) AS dist
  FROM qres
  JOIN va ON va.cell = qres.cell
  JOIN renc ON renc.id = va.vec_id
  JOIN rb ON rb.j = renc.j AND rb.ck = renc.ck
  GROUP BY qres.qid, renc.id
),
ri AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM radc
),
rex AS (  -- IndexRefineFlat: exact rescore of the flat-ADC top-40
  SELECT rf.qid, rf.label,
         list_sum([(x[1] - x[2]) * (x[1] - x[2]) FOR x IN
                   list_zip(q.qv::DOUBLE[], v.embedding::DOUBLE[])]) AS dist
  FROM rf
  JOIN q ON q.qid = rf.qid
  JOIN embeddings v ON v.vec_id = rf.label
  WHERE rf.rank < 40
),
rr AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM rex
),
dec1 AS (  -- chosen first-level codeword slice per (id, j)
  SELECT renc.id, renc.j, rb.cj
  FROM renc JOIN rb ON rb.j = renc.j AND rb.ck = renc.ck
),
vres2 AS (  -- second-level residual slice: what the first PQ missed
  SELECT vr.vec_id AS id, d1.j,
         [x[1] - x[2] FOR x IN list_zip(
            list_slice(vr.rv, d1.j*{dsub} + 1, d1.j*{dsub} + {dsub}), d1.cj)] AS r2j
  FROM vres vr JOIN dec1 d1 ON d1.id = vr.vec_id
),
rb2 AS (  -- refine codebook: second-level residuals of the first 256 rows
  SELECT id AS ck, j, r2j AS cj FROM vres2 WHERE id < 256
),
renc2 AS (  -- refine codes for all vectors (same argmin form)
  SELECT id, j, ck FROM (
    SELECT v2.id, v2.j, rb2.ck,
           row_number() OVER (PARTITION BY v2.id, v2.j ORDER BY
             list_inner_product(rb2.cj, rb2.cj)
             - 2 * list_inner_product(v2.r2j, rb2.cj) ASC,
             rb2.ck ASC) AS rn
    FROM vres2 v2 JOIN rb2 ON rb2.j = v2.j)
  WHERE rn = 1
),
recs AS (  -- two-level reconstruction slice: centroid + decode1 + decode2
  SELECT va.vec_id AS id, d1.j,
         [x[1] + x[2] + x[3] FOR x IN list_zip(
            list_slice(c.cv::DOUBLE[], d1.j*{dsub} + 1, d1.j*{dsub} + {dsub}),
            d1.cj, rb2.cj)] AS rj
  FROM va
  JOIN c ON c.cell = va.cell
  JOIN dec1 d1 ON d1.id = va.vec_id
  JOIN renc2 ON renc2.id = va.vec_id AND renc2.j = d1.j
  JOIN rb2 ON rb2.j = renc2.j AND rb2.ck = renc2.ck
),
recv AS (SELECT id, flatten(list(rj ORDER BY j)) AS rv FROM recs GROUP BY id),
prr AS (  -- IndexIVFPQR: re-rank the residual-ADC top-40 on ‖q − rec‖²
  SELECT ri.qid, ri.label,
         list_sum([(x[1] - x[2]) * (x[1] - x[2]) FOR x IN
                   list_zip(q.qv::DOUBLE[], recv.rv)]) AS dist
  FROM ri
  JOIN q ON q.qid = ri.qid
  JOIN recv ON recv.id = ri.label
  WHERE ri.rank < 40
),
prk AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM prr
),
-- prq lane (faiss IndexProductResidualQuantizer): the rq recipe per
-- 32-dim coordinate block — per-block stage-0 argmin over the centroid
-- slices, per-block stage-1 over rows 16..31's block residuals, exact
-- decode-then-score summed over the disjoint blocks
blk AS (SELECT s FROM range(2) t(s)),
pb0 AS (  -- stage-0 books: centroid rows' block slices
  SELECT c.cell AS ck, blk.s,
         list_slice(c.cv::DOUBLE[], blk.s*32 + 1, blk.s*32 + 32) AS cj
  FROM c CROSS JOIN blk
),
pvs AS (  -- every vector's block slices
  SELECT v.vec_id AS id, blk.s,
         list_slice(v.embedding::DOUBLE[], blk.s*32 + 1, blk.s*32 + 32) AS vj
  FROM embeddings v CROSS JOIN blk
),
pe0 AS (  -- per-block stage-0 argmin (the shared assign form)
  SELECT id, s, ck FROM (
    SELECT pvs.id, pvs.s, pb0.ck,
           row_number() OVER (PARTITION BY pvs.id, pvs.s ORDER BY
             list_inner_product(pb0.cj, pb0.cj)
             - 2 * list_inner_product(pvs.vj, pb0.cj) ASC,
             pb0.ck ASC) AS rn
    FROM pvs JOIN pb0 ON pb0.s = pvs.s)
  WHERE rn = 1
),
pr1 AS (  -- per-block stage-0 residual
  SELECT pvs.id, pvs.s,
         [x[1] - x[2] FOR x IN list_zip(pvs.vj, pb0.cj)] AS rv
  FROM pvs
  JOIN pe0 ON pe0.id = pvs.id AND pe0.s = pvs.s
  JOIN pb0 ON pb0.s = pe0.s AND pb0.ck = pe0.ck
),
pb1 AS (  -- stage-1 books: rows 16..31's per-block residuals
  SELECT id - 16 AS ck, s, rv AS cj FROM pr1 WHERE id >= 16 AND id < 32
),
pe1 AS (
  SELECT id, s, ck FROM (
    SELECT pr1.id, pr1.s, pb1.ck,
           row_number() OVER (PARTITION BY pr1.id, pr1.s ORDER BY
             list_inner_product(pb1.cj, pb1.cj)
             - 2 * list_inner_product(pr1.rv, pb1.cj) ASC,
             pb1.ck ASC) AS rn
    FROM pr1 JOIN pb1 ON pb1.s = pr1.s)
  WHERE rn = 1
),
prec AS (  -- per-block additive reconstruction: stage-0 + stage-1
  SELECT pe0.id, pe0.s,
         [x[1] + x[2] FOR x IN list_zip(b0.cj, b1.cj)] AS rj
  FROM pe0
  JOIN pb0 b0 ON b0.s = pe0.s AND b0.ck = pe0.ck
  JOIN pe1 ON pe1.id = pe0.id AND pe1.s = pe0.s
  JOIN pb1 b1 ON b1.s = pe1.s AND b1.ck = pe1.ck
),
pqsl AS (  -- query block slices
  SELECT qid, blk.s, list_slice(qv::DOUBLE[], blk.s*32 + 1, blk.s*32 + 32) AS qj
  FROM q CROSS JOIN blk
),
prqd AS (  -- exact ‖q − reconstruction‖² summed over disjoint blocks
  SELECT pqsl.qid, prec.id AS label,
         SUM(list_sum([(x[1] - x[2]) * (x[1] - x[2]) FOR x IN
                       list_zip(pqsl.qj, prec.rj)])) AS dist
  FROM pqsl JOIN prec ON prec.s = pqsl.s
  GROUP BY pqsl.qid, prec.id
),
prqr AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM prqd
),
rqb1 AS (  -- RQ stage-1 codebook: stage-0 residuals of rows 16..31
  SELECT vec_id - 16 AS ck, rv AS cj FROM vres WHERE vec_id >= 16 AND vec_id < 32
),
rqe AS (  -- stage-1 codes for all vectors (same argmin form over rv)
  SELECT vec_id AS id, ck FROM (
    SELECT vr.vec_id, rqb1.ck,
           row_number() OVER (PARTITION BY vr.vec_id ORDER BY
             list_inner_product(rqb1.cj, rqb1.cj)
             - 2 * list_inner_product(vr.rv, rqb1.cj) ASC,
             rqb1.ck ASC) AS rn
    FROM vres vr CROSS JOIN rqb1)
  WHERE rn = 1
),
rqrec AS (  -- additive reconstruction: stage-0 + stage-1 codewords
  SELECT va.vec_id AS id,
         [x[1] + x[2] FOR x IN list_zip(c.cv::DOUBLE[], rqb1.cj)] AS rv
  FROM va JOIN c ON c.cell = va.cell
  JOIN rqe ON rqe.id = va.vec_id
  JOIN rqb1 ON rqb1.ck = rqe.ck
),
rqd AS (  -- exact ‖q − reconstruction‖² (the additive identity's value)
  SELECT q.qid, rqrec.id AS label,
         list_sum([(x[1] - x[2]) * (x[1] - x[2]) FOR x IN
                   list_zip(q.qv::DOUBLE[], rqrec.rv)]) AS dist
  FROM q CROSS JOIN rqrec
),
rqr AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM rqd
),
-- ivfrq lane (faiss IndexIVFResidualQuantizer): rqrec IS the IVF-additive
-- reconstruction (centroid(cell) + the cell-residual stage codeword), so
-- the lane is rqd's decode-then-score restricted to each query's probed
-- cells — the inverted-file pruning is the only difference from 'rq'
ivfrqd AS (
  SELECT q.qid, rqrec.id AS label,
         list_sum([(x[1] - x[2]) * (x[1] - x[2]) FOR x IN
                   list_zip(q.qv::DOUBLE[], rqrec.rv)]) AS dist
  FROM probe p
  JOIN q ON q.qid = p.qid
  JOIN va ON va.cell = p.cell
  JOIN rqrec ON rqrec.id = va.vec_id
),
ivfrqr AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM ivfrqd
),
-- poly lane (faiss IndexPQ ST_polysemous): relabel every sub-code by
-- the FIXED shared permutation, Hamming-filter on the relabeled bytes
-- (bit_count of the XOR summed over subspaces, STRICT < ht like faiss
-- search_core_polysemous), ADC only on survivors
polyperm AS (SELECT * FROM (VALUES {_poly_perm_values()}) pm(ck, pck)),
qenc AS (
  SELECT q.qid, e.j, pm.pck
  FROM q JOIN enc e ON e.id = q.qid JOIN polyperm pm ON pm.ck = e.ck
),
venc AS (
  SELECT e.id, e.j, pm.pck FROM enc e JOIN polyperm pm ON pm.ck = e.ck
),
pham AS (
  SELECT qe.qid, ve.id AS label,
         SUM(bit_count(xor(CAST(qe.pck AS BIGINT), CAST(ve.pck AS BIGINT)))) AS ham
  FROM qenc qe JOIN venc ve ON ve.j = qe.j
  GROUP BY qe.qid, ve.id
),
padc AS (
  SELECT a.qid, a.label, a.dist
  FROM adc a JOIN pham h ON h.qid = a.qid AND h.label = a.label
  WHERE h.ham < {_POLY_HT}
),
prf AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM padc
)
SELECT 'poly' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM prf WHERE rank < 10
UNION ALL
SELECT 'rq' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM rqr WHERE rank < 10
UNION ALL
SELECT 'ivfrq' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM ivfrqr WHERE rank < 10
UNION ALL
SELECT 'prq' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM prqr WHERE rank < 10
UNION ALL
SELECT 'pq' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM rf WHERE rank < 10
UNION ALL
SELECT 'pq4' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM rf4 WHERE rank < 10
UNION ALL
-- fs lane (faiss PQ8x4fs): the fast-scan layout packs two 4-bit codes
-- per byte and fuses LUT pairs — pure LAYOUT, so the oracle is pq4's
-- own ADC ranking verbatim under the 'fs' tag
SELECT 'fs' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM rf4 WHERE rank < 10
UNION ALL
SELECT 'ivfpq' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM ri WHERE rank < 10
UNION ALL
SELECT 'ivfpqr' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM prk WHERE rank < 10
UNION ALL
SELECT 'refine' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM rr WHERE rank < 10
"""


def q_ann_binary(
    spark: SparkSession, sf_dir: str, queries: DataFrame | None = None
) -> DataFrame:
    """Binary (sign-bit) vector index, both stages tagged in one result:
    'hamming' rows are IndexBinaryFlat-style Hamming top-10 over codes
    packed 32 dims per BIGINT word (1 bit/dim — 32× smaller than FP32,
    extending the reference's FP32/FP16/BF16 storage family downward,
    /root/reference/include/faiss-metal/MetalIndexFlat.h:47); 'refine'
    rows prefilter top-40 by Hamming then exactly rescore the fetched
    full vectors (IndexRefineFlat two-stage). Packing, popcount
    distance and rescore are all Catalyst expressions; the DuckDB
    oracle computes the same count without packing (bit w·32+j of the
    word XOR is exactly the sign disagreement of dim w·32+j, so the
    pack is verified through every distance it produces)."""
    from faiss_metal_spark.operators.binary import hamming_knn, hamming_refine

    d = _PQ_M * _PQ_DSUB
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    if queries is None:
        queries = emb.where(F.col("id") < 8).select(
            F.col("id").alias("qid"), "vec"
        )
    ham = hamming_knn(emb, queries, k=10, d=d)
    ref = hamming_refine(emb, queries, k=10, d=d, refine_factor=4)
    return ham.select(
        F.lit("hamming").alias("path"), "qid", "rank", "label",
        F.col("distance").cast("double").alias("distance"),
    ).unionByName(
        ref.select(
            F.lit("refine").alias("path"), "qid", "rank", "label",
            _norm(F.col("distance"), 4).alias("distance"),
        )
    )


ORACLE_ANN_BINARY = """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8
),
hd AS (  -- Hamming = count of sign-bit disagreements
  SELECT q.qid, v.vec_id AS label,
         list_sum([CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END
                   FOR x IN list_zip(q.qv, v.embedding)]) AS dist
  FROM q CROSS JOIN embeddings v
),
hr AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM hd
),
rex AS (  -- exact rescore of the Hamming top-40
  SELECT hr.qid, hr.label,
         list_sum([(x[1] - x[2]) * (x[1] - x[2]) FOR x IN
                   list_zip(q.qv::DOUBLE[], v.embedding::DOUBLE[])]) AS dist
  FROM hr
  JOIN q ON q.qid = hr.qid
  JOIN embeddings v ON v.vec_id = hr.label
  WHERE hr.rank < 40
),
rr AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM rex
)
SELECT 'hamming' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, CAST(dist AS DOUBLE) AS distance
FROM hr WHERE rank < 10
UNION ALL
SELECT 'refine' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM rr WHERE rank < 10
"""


def q_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantizer index (faiss::IndexScalarQuantizer QT_8bit
    semantics, endpoints-exact reconstruct — operators/sq.py): train
    per-dim min/max in one distributed pass, encode every vector to
    uint8 codes, search asymmetrically (exact query vs reconstructed
    codes). Encode arithmetic is double-precision Catalyst kept
    operation-for-operation identical to the SQL oracle, so code
    assignment, reconstruction and distances all hash-match. Training
    is an action by nature (params become plan literals); the collect
    is d rows, not the corpus."""
    return _q_ann_sq(spark, sf_dir, bits=8)


def _q_ann_sq(
    spark: SparkSession, sf_dir: str, bits: int, trained=None, queries=None
) -> DataFrame:
    """Shared b-bit SQ lane (operators/sq.py): min/max training is
    bit-width-independent, so callers composing several widths pass
    ``trained=(vmin, vmax)`` and pay ONE training pass total; Catalyst
    encode at L = 2^bits − 1 levels, asymmetric search. bits=4 is the
    QT_4bit half-byte tier — same SQL-oracle-exact arithmetic with
    15.0 in place of 255.0."""
    from faiss_metal_spark.operators.sq import sq_encode, sq_search, sq_train

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    vmin, vmax = trained if trained is not None else sq_train(emb)
    codes = sq_encode(emb, vmin, vmax, bits)
    if queries is None:
        queries = emb.where(F.col("id") < 8).select(
            F.col("id").alias("qid"), "vec"
        )
    res = sq_search(codes, vmin, vmax, queries, k=10, bits=bits)
    return res.select(
        "qid", "rank", "label", _norm(F.col("distance"), 4).alias("distance")
    )


def _oracle_ann_sq8(levels: float = 255.0) -> str:
    d = _PQ_M * _PQ_DSUB
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8
),
mm AS (  -- train: per-dim min/max (RS_minmax)
  SELECT j, MIN(embedding[j+1]::DOUBLE) AS vmin, MAX(embedding[j+1]::DOUBLE) AS vmax
  FROM embeddings CROSS JOIN range({d}) t(j)
  GROUP BY j
),
enc AS (  -- encode: clamp(floor((x-vmin)/(vmax-vmin)*255 + 0.5))
  SELECT v.vec_id AS id, mm.j,
         CASE WHEN mm.vmax = mm.vmin THEN 0
              ELSE CAST(LEAST({levels}, GREATEST(0.0,
                   FLOOR((v.embedding[mm.j+1]::DOUBLE - mm.vmin)
                         / (mm.vmax - mm.vmin) * {levels} + 0.5))) AS INTEGER)
         END AS code
  FROM embeddings v CROSS JOIN mm
),
rec AS (  -- reconstruct: vmin + code*(vmax-vmin)/255
  SELECT enc.id, enc.j,
         mm.vmin + enc.code * ((mm.vmax - mm.vmin) / {levels}) AS r
  FROM enc JOIN mm ON mm.j = enc.j
),
dd AS (  -- asymmetric distance: exact query vs reconstruction
  SELECT q.qid, rec.id AS label,
         SUM((q.qv[rec.j+1]::DOUBLE - rec.r) * (q.qv[rec.j+1]::DOUBLE - rec.r)) AS dist
  FROM q CROSS JOIN rec
  GROUP BY q.qid, rec.id
),
r AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM dd
)
SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, ROUND(dist, 4) + 0.0 AS distance
FROM r WHERE rank < 10
"""


def q_ann_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact-storage index family in one path-tagged result:
    'hamming' + 'refine' rows from the binary sign-bit index
    (q_ann_binary), 'sq8' rows from the scalar quantizer (q_ann_sq8)
    and 'sq4' rows from its half-byte QT_4bit sibling — the storage
    tiers below the FP16/BF16 compact stores (1 bit/dim, 1 byte/dim
    and 4 bits/dim respectively) — plus 'ivfsq' rows: the SAME SQ8
    codes routed through cell-partitioned inverted lists (faiss
    IndexIVFScalarQuantizer, the compact_index.IVFSQIndex machinery)
    with a FULL probe, which by the IVF degradation contract must
    equal the flat sq8 answer exactly — so one SQL oracle hash-checks
    the per-cell decode+search path too (partial-probe routing is
    pinned by tests/test_binary_sq.py) — plus 'lshb' rows: the
    LSHIndex tier (faiss IndexLSH: seeded random-rotation sign bits +
    exhaustive Hamming), whose oracle re-derives the same rotation as
    literal doubles and counts projected-sign disagreements, so the
    rotate→sign→pack→popcount chain is hash-checked end to end."""
    from faiss_metal_spark.operators.similarity import ivf_assign, ivf_search
    from faiss_metal_spark.operators.sq import (
        sq_code_col,
        sq_decode_np,
        sq_train,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )

    # The five build-time eager steps (SQ range train, centroid
    # collect, LSH/BinaryHash index builds — each persists + counts —
    # and the binary sub-query's own builds) are independent: run them
    # from threads so their small jobs interleave (the mllib_index_
    # build discipline); the RESULT lanes stay lazy for the plan audit.
    from concurrent.futures import ThreadPoolExecutor

    from faiss_metal_spark import BinaryHashIndex, LSHIndex, VectorTable

    vt = VectorTable.from_parquet(
        spark, os.path.join(sf_dir, "embeddings.parquet"),
        d=_PQ_M * _PQ_DSUB, id_col="vec_id", vec_col="embedding",
    )
    # r14 (guide §2.6/§5): collect the 8 query rows ONCE inside the
    # build pool and serve every lane from a LocalRelation (the
    # ann_pq/ann_ivf pattern) — the ivfsq lane's probe-map collect
    # becomes a driver-local op and the lazy lanes' query subtree
    # stops being a parquet scan job per lane at action time.
    with ThreadPoolExecutor(max_workers=6) as pool:
        f_q = pool.submit(
            lambda: emb.where(F.col("id") < 8)
            .select(F.col("id").alias("qid"), "vec")
            .toPandas()
        )
        f_tr = pool.submit(sq_train, emb)
        f_cp = pool.submit(
            lambda: np.stack(
                emb.where(F.col("id") < _ANN_CELLS)
                .orderBy("id").toPandas()["vec"].to_numpy()
            ).astype(np.float64)
        )
        f_lsh = pool.submit(
            lambda: LSHIndex.from_table(vt, nbits=_LSH_NBITS, seed=_LSH_SEED)
        )
        f_bh = pool.submit(lambda: BinaryHashIndex.from_table(vt, b=_BHASH_B))
        queries = _local_queries(spark, f_q.result())
        f_bin = pool.submit(q_ann_binary, spark, sf_dir, queries)
        trained = f_tr.result()
        centroids = f_cp.result()
        lsh = f_lsh.result()
        bh = f_bh.result()
        binary_lanes = f_bin.result()

    sq8 = _q_ann_sq(
        spark, sf_dir, bits=8, trained=trained, queries=queries
    ).select(
        F.lit("sq8").alias("path"), "qid", "rank", "label", "distance"
    )
    sq4 = _q_ann_sq(
        spark, sf_dir, bits=4, trained=trained, queries=queries
    ).select(
        F.lit("sq4").alias("path"), "qid", "rank", "label", "distance"
    )
    # ivfsq lane: fixed centroids (first rows — deterministic, like
    # q_ann_pq's fixed codebooks), Catalyst SQ8 encode into the cells
    vmin, vmax = trained
    inv = ivf_assign(emb, centroids).select(
        "id", sq_code_col("vec", vmin, vmax, 8).alias("code"), "cell"
    )

    def _dec(pdf):
        return sq_decode_np(
            np.stack(pdf["code"].to_numpy()).astype(np.uint8), vmin, vmax, 8
        )

    ivfsq = ivf_search(
        inv, centroids, queries, k=10, nprobe=_ANN_CELLS,
        vec_col="code", decode=_dec,
    ).select(
        F.lit("ivfsq").alias("path"), "qid", "rank", "label",
        _norm(F.col("distance"), 4).alias("distance"),
    )
    # bhash lane: BinaryHashIndex (faiss IndexBinaryHash) at b=12,
    # nflip=1 — the oracle states the probe as a predicate (prefix
    # sign-disagreement ≤ nflip over the first b dims), which is
    # exactly the flip-set the engine enumerates
    lshb = lsh.search(queries, k=10).select(
        F.lit("lshb").alias("path"), "qid", "rank", "label",
        F.col("distance").cast("double").alias("distance"),
    )
    bhash = bh.search(queries, k=10, nflip=1).select(
        F.lit("bhash").alias("path"), "qid", "rank", "label",
        F.col("distance").cast("double").alias("distance"),
    )
    return (
        binary_lanes
        .unionByName(sq8)
        .unionByName(sq4)
        .unionByName(ivfsq)
        .unionByName(lshb)
        .unionByName(bhash)
    )


def _oracle_lsh_lane() -> str:
    """DuckDB re-derivation of the LSHIndex lane: the SAME seeded
    rotation the engine trains with, rendered as literal doubles; a
    bit is the sign of the projection (Σ_j emb[j]·R[i][j] computed in
    double on both engines — the engine's final float32 cast cannot
    flip a sign), Hamming is the count of bit disagreements (exactly
    what bit_count(xor) over the packed words counts), ties by label."""
    from faiss_metal_spark.operators.pca import random_rotation

    R = random_rotation(_PQ_M * _PQ_DSUB, _LSH_NBITS, seed=_LSH_SEED)
    bit_exprs = ",\n          ".join(
        "CASE WHEN ("
        + " + ".join(f"embedding[{j + 1}] * {R[i, j]!r}" for j in range(R.shape[1]))
        + ") > 0 THEN 1 ELSE 0 END"
        for i in range(_LSH_NBITS)
    )
    return f"""
WITH lshw AS (
  SELECT vec_id AS id,
         [{bit_exprs}] AS bits
  FROM embeddings
),
lshq AS (SELECT id AS qid, bits FROM lshw WHERE id < 8),
lshd AS (
  SELECT q.qid, v.id AS label,
         list_sum([CASE WHEN x[1] <> x[2] THEN 1 ELSE 0 END
                   FOR x IN list_zip(q.bits, v.bits)]) AS dist
  FROM lshq q CROSS JOIN lshw v
),
lshr AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM lshd
)
SELECT 'lshb' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, CAST(dist AS DOUBLE) AS distance
FROM lshr WHERE rank < 10
"""


def _oracle_bhash_lane() -> str:
    """IndexBinaryHash oracle: candidates = rows whose first-_BHASH_B
    sign bits disagree with the query's in ≤ 1 position (the nflip=1
    flip-set as a predicate), reranked by full-width Hamming."""
    b = _BHASH_B
    return f"""
WITH bq AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8
),
bhd AS (
  SELECT bq.qid, v.vec_id AS label,
         list_sum([CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END
                   FOR x IN list_zip(bq.qv, v.embedding)]) AS dist
  FROM bq CROSS JOIN embeddings v
  WHERE list_sum([CASE WHEN (x[1] > 0) <> (x[2] > 0) THEN 1 ELSE 0 END
                  FOR x IN list_zip(bq.qv[1:{b}], v.embedding[1:{b}])]) <= 1
),
bhr AS (
  SELECT qid, label, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, label ASC) - 1 AS rank
  FROM bhd
)
SELECT 'bhash' AS path, CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
       CAST(label AS BIGINT) AS label, CAST(dist AS DOUBLE) AS distance
FROM bhr WHERE rank < 10
"""


def _oracle_ann_compact() -> str:
    return (
        ORACLE_ANN_BINARY
        + " UNION ALL SELECT 'sq8' AS path, sq.* FROM ("
        + _oracle_ann_sq8()
        + ") sq UNION ALL SELECT 'sq4' AS path, s4.* FROM ("
        + _oracle_ann_sq8(levels=15.0)
        + ") s4 UNION ALL SELECT 'ivfsq' AS path, s8b.* FROM ("
        + _oracle_ann_sq8()
        + ") s8b UNION ALL SELECT * FROM ("
        + _oracle_lsh_lane()
        + ") lshx UNION ALL SELECT * FROM ("
        + _oracle_bhash_lane()
        + ") bhx"
    )


# ---------------------------------------------------------------------------
# SimHash / Jaccard / language-ID / fingerprint (training-data pipeline ops)
# ---------------------------------------------------------------------------

# DuckDB rendering of functions.text.token_hash32 / dedup._md5_val32:
# decode the first 8 hex chars of md5(expr) into a BIGINT.
def _sql_hash32(expr: str) -> str:
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"


def _sql_simhash_sig() -> str:
    """CTE chain producing sig(doc_id, simhash) — mirrors simhash_signatures."""
    sums = ", ".join(
        f"SUM(CASE WHEN (val >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(32)
    )
    packed = " + ".join(f"CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END" for b in range(32))
    return f"""
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
v AS (SELECT doc_id, {_sql_hash32('t')} AS val FROM tok),
s AS (SELECT doc_id, {sums} FROM v GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({packed} AS BIGINT) AS simhash FROM s)
"""


# The uncandidated exact-Jaccard lane's shared-shingle self-join emits
# Σ_sh df(sh)² rows — measured QUADRATIC on this corpus (sf0.1→sf1:
# 2.8M → 253M join rows; the shingle vocabulary barely grows, so dfs
# grow linearly and their squares quadratically). That shape is the
# reference semantics, not the at-scale path, so it runs on a FIXED
# doc prefix (covers the whole sf0.01 gate corpus — hash unchanged;
# constant-cost beyond it — the mllib_index_build capped-oracle-lane
# precedent). The at-scale path is the 'lsh' lane below.
_NGJ_EXACT_N = 2000


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard, two tagged lanes: 'exact' rows are the
    uncandidated all-shared-shingle-pairs form over the fixed
    ``doc_id < _NGJ_EXACT_N`` prefix (the quadratic reference shape,
    capped — see note above); 'lsh' rows are the AT-SCALE pipeline —
    MinHash-LSH banded candidates (8 hashes, 4 bands: the same banding
    engine simhash_all checks standalone) verified with exact Jaccard
    (``ngram_jaccard_pairs(pair_candidates=)``): only candidate docs
    ever shingle for the verify join, so the whole lane is linear in
    the corpus. The df-cutoff ban for the lsh lane aggregates the FULL
    corpus (the cutoff is corpus-defined) while the exact lane's ban
    is defined over its own restricted rows — both stated identically
    in the oracle."""
    d = _t(spark, sf_dir, "documents")
    # materialize_shingles: the text→shingle→hash stage runs once
    # instead of once per plan branch (r13; values identical — see
    # ngram_jaccard_pairs)
    exact = ngram_jaccard_pairs(
        d.where(F.col("doc_id") < _NGJ_EXACT_N),
        shingle_size=3, threshold=0.1, materialize_shingles=True,
    )
    sig = minhash_signatures(d, num_hashes=8, shingle_size=3)
    cands = lsh_candidate_pairs(sig, num_hashes=8, bands=4)
    # NOT materialize_shingles here: under candidate restriction the
    # shingle table is candidate-sized (cheap to re-evaluate) and the
    # checkpoint would eagerly run the minhash-banding pipeline an
    # extra time — measured 4.0 s → 5.9 s at sf0.1 with it on
    lsh = ngram_jaccard_pairs(
        d, pair_candidates=cands, shingle_size=3, threshold=0.1
    )
    tag = lambda kind, df: df.select(  # noqa: E731
        F.lit(kind).alias("kind"), "id_a", "id_b",
        _norm(F.col("jaccard"), 4).alias("jaccard"),
    )
    return tag("exact", exact).unionByName(tag("lsh", lsh))


def _oracle_ngram_jaccard() -> str:
    return f"""
WITH {_MINHASH_CTES},
dsh0 AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)])) AS s
  FROM toks WHERE len(t) >= 3
),
-- document-frequency cutoff (engine max_df=10000): boilerplate
-- shingles leave the similarity definition on BOTH engines. The lsh
-- lane's ban is corpus-wide; the exact lane's ban is defined over its
-- own doc prefix (exactly what ngram_jaccard_pairs computes).
dkeep AS (SELECT s FROM dsh0 GROUP BY s HAVING COUNT(*) <= 10000),
dsh AS (SELECT dsh0.doc_id, dsh0.s FROM dsh0 JOIN dkeep USING (s)),
dsizes AS (SELECT doc_id, COUNT(*) AS sz FROM dsh GROUP BY doc_id),
linter AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS i
  FROM pairs p
  JOIN dsh a ON a.doc_id = p.id_a
  JOIN dsh b ON b.doc_id = p.id_b AND b.s = a.s
  GROUP BY 1, 2
),
esh0 AS (SELECT doc_id, s FROM dsh0 WHERE doc_id < {_NGJ_EXACT_N}),
ekeep AS (SELECT s FROM esh0 GROUP BY s HAVING COUNT(*) <= 10000),
esh AS (SELECT esh0.doc_id, esh0.s FROM esh0 JOIN ekeep USING (s)),
esizes AS (SELECT doc_id, COUNT(*) AS sz FROM esh GROUP BY doc_id),
einter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM esh a JOIN esh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT 'exact' AS kind, id_a, id_b,
       ROUND(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 4) + 0.0 AS jaccard
FROM einter
JOIN esizes sa ON sa.doc_id = id_a
JOIN esizes sb ON sb.doc_id = id_b
WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.1
UNION ALL
SELECT 'lsh' AS kind, id_a, id_b,
       ROUND(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 4) + 0.0 AS jaccard
FROM linter
JOIN dsizes sa ON sa.doc_id = id_a
JOIN dsizes sb ON sb.doc_id = id_b
WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.1
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _oracle_lang_id() -> str:
    structs = ", ".join(
        "{'s': -(len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in words)
        + "], x))) / CAST(len(toks) AS DOUBLE)), 'lang': '" + lang + "'}"
        for lang, words in sorted(LANG_MARKERS.items())
    )
    return f"""
WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
p AS (SELECT lang, list_sort([{structs}])[1].lang AS predicted FROM t)
SELECT lang, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2
"""


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint family, tagged: 'winnow' rows are MOSS winnowing
    fingerprint sets (k-gram hashes → window minima → distinct; any
    shared run ≥ k+w−1 tokens yields a shared print, k2 = −1); 'chunk'
    rows are the RAG-style passage chunking (32-token windows, overlap
    8): k2 = chunk_id, fp = rolling fingerprint of the chunk text —
    verifying chunk boundaries, short-tail handling AND per-chunk
    content in one value; 'dupspan' rows are exact-substring-dedup
    spans (Lee et al. 2022 style, operators/corpus_quality.py): maximal
    token runs covered by a word 8-gram occurring ≥2× corpus-wide,
    k2 = span start, fp = span end (0-based inclusive token indices —
    the spans a substring-dedup pass would cut)."""
    from faiss_metal_spark.functions.text import chunk_spans, doc_fingerprint
    from faiss_metal_spark.operators.corpus_quality import duplicate_spans

    d = _t(spark, sf_dir, "documents")
    winnow = d.select(
        F.lit("winnow").alias("kind"),
        "doc_id",
        F.lit(-1).alias("k2"),
        F.explode(winnow_fingerprints("text", k=4, w=5)).alias("fp"),
    )
    ch = d.select(
        "doc_id", F.explode(chunk_spans("text", chunk=32, overlap=8)).alias("c")
    ).select(
        F.lit("chunk").alias("kind"),
        "doc_id",
        F.col("c.chunk_id").cast("int").alias("k2"),
        doc_fingerprint(F.col("c.chunk")).alias("fp"),
    )
    sp = duplicate_spans(d, n=8, min_count=2, materialize_grams=True).select(
        F.lit("dupspan").alias("kind"),
        "doc_id",
        F.col("span_start").cast("int").alias("k2"),
        F.col("span_end").cast("long").alias("fp"),
    )
    return winnow.unionByName(ch).unionByName(sp)


ORACLE_WINNOW = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id,
         [array_to_string(t[i:i+3], ' ') FOR i IN range(1, len(t) - 2)] AS g
  FROM toks WHERE len(t) >= 4
),
h AS (SELECT doc_id, [{_sql_hash32('x')} FOR x IN g] AS hs FROM grams),
wins AS (
  SELECT doc_id,
         list_distinct([list_min(hs[i:i+4]) FOR i IN range(1, len(hs) - 3)]) AS fps
  FROM h WHERE len(hs) >= 5
),
nch AS (
  SELECT doc_id, t,
         GREATEST(1, CAST(CEIL((len(t) - 8) / 24.0) AS INTEGER)) AS n_chunks
  FROM toks
),
chunks AS (
  SELECT doc_id, i AS k2,
         array_to_string(t[i * 24 + 1 : i * 24 + 32], ' ') AS chunk
  FROM nch, UNNEST(range(n_chunks)) AS u(i)
),
cfp AS (
  SELECT doc_id, k2,
         list_reduce(
           list_prepend(0::BIGINT,
             [{_sql_hash32('x')} FOR x IN string_split(chunk, ' ')]),
           (acc, v) -> (acc * 31 + v) % 2147483647
         ) AS fp
  FROM chunks
),
g8 AS (  -- word 8-grams with 0-based start positions
  SELECT doc_id,
         unnest(range(0, len(t) - 7)) AS pos,
         unnest([array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t) - 6)]) AS g
  FROM toks WHERE len(t) >= 8
),
dupg AS (SELECT g FROM g8 GROUP BY g HAVING COUNT(*) >= 2),
cov AS (
  SELECT DISTINCT g8.doc_id, g8.pos + off AS p
  FROM g8 JOIN dupg USING (g)
  CROSS JOIN (SELECT unnest(range(0, 8)) AS off) o
),
isl AS (
  SELECT doc_id, p,
         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) = 1
              THEN 0 ELSE 1 END AS brk
  FROM cov
),
isl2 AS (
  SELECT doc_id, p,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM isl
),
spans AS (
  SELECT doc_id, MIN(p) AS span_start, MAX(p) AS span_end
  FROM isl2 GROUP BY doc_id, grp
)
SELECT 'winnow' AS kind, doc_id, CAST(-1 AS INTEGER) AS k2, unnest(fps) AS fp FROM wins
UNION ALL
SELECT 'chunk', doc_id, CAST(k2 AS INTEGER), fp FROM cfp
UNION ALL
SELECT 'dupspan', doc_id, CAST(span_start AS INTEGER), CAST(span_end AS BIGINT) FROM spans
"""


# ---------------------------------------------------------------------------
# Multimodal binary-payload plumbing (operators/multimodal.py)
# ---------------------------------------------------------------------------


def _mm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attach_payload(_t(spark, sf_dir, "documents"))


def q_mm_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = byte_stats(_mm(spark, sf_dir))
    return s.select(
        "doc_id", "n_bytes", _norm(F.col("mean_byte"), 4).alias("mean_byte"), "max_byte"
    )


ORACLE_MM_BYTE_STATS = """
WITH c AS (
  SELECT doc_id, length(text) AS n,
         [unicode(substr(text, i, 1)) FOR i IN range(1, length(text) + 1)] AS codes
  FROM documents
)
SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
       ROUND(list_sum(codes) / CAST(n AS DOUBLE), 4) + 0.0 AS mean_byte,
       CAST(list_max(codes) AS INTEGER) AS max_byte
FROM c
"""


def q_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(_mm(spark, sf_dir), stride=16)


ORACLE_MM_FRAMES = """
SELECT doc_id, CAST(j AS INTEGER) AS frame_idx,
       CAST(unicode(substr(text, CAST(j * 16 + 1 AS INTEGER), 1)) AS INTEGER) AS frame_byte
FROM documents CROSS JOIN (SELECT unnest(range(0, 10000)) AS j)
WHERE j * 16 < length(text)
"""


def q_mm_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode plus perceptual dedup, three row kinds in one
    schema: px_idx ≥ 0 rows are the decoded thumbnail taps (spec-valid
    binary PGM (P5) payloads whose 16×8 raster is the doc's bytes
    cycled; tap i reads raster pixel 8i = text byte (8i mod len), which
    the oracle reproduces straight off the text column); px_idx = −1
    rows carry each image's 16-bit average-hash (aHash — bit i set iff
    tap i exceeds the image's mean tap, tap 0 as MSB); px_idx = −2 rows
    are the exact perceptual-dup groups (keeper doc, px = group size) —
    the image analog of exact text dedup, operators/multimodal.py
    ::image_ahash/ahash_dup_groups."""
    from faiss_metal_spark.operators.multimodal import ahash_dup_groups, image_ahash

    d = _t(spark, sf_dir, "documents")
    img = attach_image_payload(d, width=16, height=8)
    taps = decode_image(img, fmt="pgm")
    hashes = image_ahash(taps).localCheckpoint()
    groups = ahash_dup_groups(hashes)
    h_rows = hashes.select(
        "doc_id", F.lit(-1).cast("int").alias("px_idx"), F.col("ahash").cast("int").alias("px")
    )
    g_rows = groups.select(
        F.col("keeper").alias("doc_id"),
        F.lit(-2).cast("int").alias("px_idx"),
        F.col("n_dups").cast("int").alias("px"),
    )
    return taps.unionByName(h_rows).unionByName(g_rows)


ORACLE_MM_THUMBNAIL = """
WITH taps AS (
  SELECT doc_id, CAST(i AS INTEGER) AS px_idx,
         CAST(unicode(substr(text, CAST((i * 8) % length(text) + 1 AS INTEGER), 1)) AS INTEGER) AS px
  FROM documents CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
  WHERE length(text) > 0
),
m AS (SELECT doc_id, AVG(px::DOUBLE) AS mean FROM taps GROUP BY doc_id),
h AS (
  SELECT t.doc_id,
         CAST(SUM(CASE WHEN t.px::DOUBLE > m.mean
                       THEN 1::BIGINT << (15 - t.px_idx) ELSE 0 END) AS INTEGER) AS ahash
  FROM taps t JOIN m USING (doc_id) GROUP BY t.doc_id
),
g AS (
  SELECT ahash, COUNT(*) AS n_dups, MIN(doc_id) AS keeper
  FROM h GROUP BY ahash HAVING COUNT(*) > 1
)
SELECT doc_id, px_idx, px FROM taps
UNION ALL
SELECT doc_id, CAST(-1 AS INTEGER), ahash FROM h
UNION ALL
SELECT keeper, CAST(-2 AS INTEGER), CAST(n_dups AS INTEGER) FROM g
"""


def q_mm_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: spec-valid RIFF/WAVE PCM16-mono payloads
    (sample i = (byte_i − 128)·256), parsed back by the pure-numpy RIFF
    reader into per-clip amplitude features plus a 32-bit delta-energy
    fingerprint (bit j = |s[j+1]| > |s[j]|, MSB-first — the clip-level
    perceptual-dup key, audio twin of mm_thumbnail's aHash)."""
    d = _t(spark, sf_dir, "documents")
    wav = attach_audio_payload(d, sample_rate=8000)
    out = decode_audio(wav)
    return out.select(
        "doc_id", "n_samples", "sample_rate",
        _norm(F.col("mean_abs"), 4).alias("mean_abs"), "peak", "afp",
    )


ORACLE_MM_AUDIO = """
WITH c AS (
  SELECT doc_id, length(text) AS n,
         [abs((unicode(substr(text, i, 1)) - 128) * 256) FOR i IN range(1, length(text) + 1)] AS amps
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, CAST(n AS BIGINT) AS n_samples, CAST(8000 AS INTEGER) AS sample_rate,
       ROUND(list_sum(amps) / CAST(n AS DOUBLE), 4) + 0.0 AS mean_abs,
       CAST(list_max(amps) AS INTEGER) AS peak,
       CAST(COALESCE(list_sum(
         [CASE WHEN amps[j+2] > amps[j+1] THEN (1::BIGINT << (31 - j)) ELSE 0 END
          FOR j IN range(0, LEAST(n, 33) - 1)]), 0) AS BIGINT) AS afp
FROM c
"""


# ---------------------------------------------------------------------------
# Consolidated multi-operator queries.
#
# The driver's correctness gate hash-checks the first 50 queries() keys,
# so redundant single-operator rows are merged (tagged unions / joint
# projections) until every operator family fits inside the checked
# window. Each merged query still verifies every constituent operator:
# the tag column keeps the per-operator rows distinguishable and the
# oracle reproduces the identical union.
# ---------------------------------------------------------------------------


def q_knn_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four kNN metrics in one tagged result — verifies the
    L2/IP/cosine/L1 distance kernels and the shared top-k merge. Fused:
    ONE scan of the vector table, one GEMM per batch, all four metrics
    derived from it (knn_search_multi) instead of four independent
    scans."""
    from faiss_metal_spark.operators.knn import knn_search_multi

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where((F.col("vec_id") >= 0) & (F.col("vec_id") < 8))
    res = knn_search_multi(
        emb, queries, 10, metrics=("l2", "ip", "cosine", "l1"),
        id_col="vec_id", vec_col="embedding",
        qid_col="vec_id", qvec_col="embedding",
        compute="f64",  # oracle hash-exactness (library default: f32)
    )
    return res.select(
        "metric", "qid", "rank", "label", _norm(F.col("distance"), 4).alias("distance")
    )


def _oracle_knn_metrics() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT '{m}' AS metric, * FROM ({_knn_oracle(m, 0, 8, 10)})"
        for m in ("l2", "ip", "cosine", "l1")
    )


def q_tpch_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four single-row TPC-H aggregates (Q6/Q14/Q17/Q19) as one
    tagged scalar table."""
    q6 = q_tpch_q6(spark, sf_dir).select(
        F.lit("q6_revenue").alias("q"), F.col("revenue").alias("value")
    )
    q14 = q_tpch_q14(spark, sf_dir).select(
        F.lit("q14_promo_pct").alias("q"), F.col("promo_revenue_pct").alias("value")
    )
    q17 = q_tpch_q17(spark, sf_dir).select(
        F.lit("q17_avg_yearly").alias("q"), F.col("avg_yearly").alias("value")
    )
    q19 = q_tpch_q19(spark, sf_dir)
    q19a = q19.select(F.lit("q19_revenue").alias("q"), F.col("revenue").alias("value"))
    q19b = q19.select(
        F.lit("q19_lines").alias("q"), F.col("n_lines").cast("double").alias("value")
    )
    return q6.unionByName(q14).unionByName(q17).unionByName(q19a).unionByName(q19b)


ORACLE_TPCH_SCALARS = f"""
SELECT 'q6_revenue' AS q, revenue AS value FROM ({ORACLE_Q6})
UNION ALL SELECT 'q14_promo_pct', promo_revenue_pct FROM ({ORACLE_Q14})
UNION ALL SELECT 'q17_avg_yearly', avg_yearly FROM ({ORACLE_Q17})
UNION ALL SELECT 'q19_revenue', revenue FROM ({ORACLE_Q19})
UNION ALL SELECT 'q19_lines', CAST(n_lines AS DOUBLE) FROM ({ORACLE_Q19})
"""


def q_tpch_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 (top orders) + Q10 (top customers) revenue rankings, tagged."""
    q3 = q_tpch_q3(spark, sf_dir).select(
        F.lit("q3").alias("q"),
        F.col("o_orderkey").cast("long").alias("key"),
        F.col("o_orderdate").alias("detail"),
        F.lit("").alias("extra"),
        "revenue",
    )
    q10 = q_tpch_q10(spark, sf_dir).select(
        F.lit("q10").alias("q"),
        F.col("c_custkey").cast("long").alias("key"),
        F.col("c_name").alias("detail"),
        F.col("n_name").alias("extra"),
        "revenue",
    )
    return q3.unionByName(q10)


ORACLE_TPCH_TOP_REVENUE = f"""
SELECT 'q3' AS q, CAST(o_orderkey AS BIGINT) AS key, o_orderdate AS detail,
       '' AS extra, revenue FROM ({ORACLE_Q3})
UNION ALL
SELECT 'q10', CAST(c_custkey AS BIGINT), c_name, n_name, revenue FROM ({ORACLE_Q10})
"""


def q_top_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax (top supplier per nation) + per-group top-N
    (top-3 orders per customer), tagged with generic columns."""
    sup = q_top_supplier_per_nation(spark, sf_dir).select(
        F.lit("supplier_by_nation").alias("src"),
        F.col("n_name").alias("grp"),
        F.col("s_name").alias("member"),
        F.col("s_acctbal").cast("double").alias("val"),
        F.lit(1).alias("rk"),
    )
    top3 = q_top3_orders_per_customer(spark, sf_dir).select(
        F.lit("top3_orders").alias("src"),
        F.col("o_custkey").cast("string").alias("grp"),
        F.col("o_orderkey").cast("string").alias("member"),
        F.col("o_totalprice").cast("double").alias("val"),
        F.col("rk"),
    )
    return sup.unionByName(top3)


ORACLE_TOP_RANKS = f"""
SELECT 'supplier_by_nation' AS src, n_name AS grp, s_name AS member,
       CAST(s_acctbal AS DOUBLE) AS val, CAST(1 AS INTEGER) AS rk
FROM ({ORACLE_TOP_SUPPLIER})
UNION ALL
SELECT 'top3_orders', CAST(o_custkey AS VARCHAR), CAST(o_orderkey AS VARCHAR),
       CAST(o_totalprice AS DOUBLE), rk
FROM ({ORACLE_TOP3})
"""


def q_part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String processing over part: explode-name term stats + regexp
    brand-number stats, tagged."""
    terms = q_part_name_terms(spark, sf_dir).select(
        F.lit("name_terms").alias("src"),
        F.col("term").alias("key"),
        F.col("n_parts").alias("n"),
        F.col("n_brands").alias("n_distinct"),
        F.lit(None).cast("double").alias("avg_price"),
    )
    brand = q_brand_number_stats(spark, sf_dir).select(
        F.lit("brand_numbers").alias("src"),
        F.col("brand_num").cast("string").alias("key"),
        "n",
        F.col("n_tags").alias("n_distinct"),
        "avg_price",
    )
    return terms.unionByName(brand)


ORACLE_PART_BRAND_STATS = f"""
SELECT 'name_terms' AS src, term AS key, n_parts AS n, n_brands AS n_distinct,
       CAST(NULL AS DOUBLE) AS avg_price
FROM ({ORACLE_PART_TERMS})
UNION ALL
SELECT 'brand_numbers', CAST(brand_num AS VARCHAR), n, n_tags, avg_price
FROM ({ORACLE_BRAND_NUM})
"""


def q_lang_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion counts joined with per-language corpus
    stats — one row per (true lang, predicted lang)."""
    return q_lang_id(spark, sf_dir).join(q_text_stats(spark, sf_dir), "lang")


def _oracle_lang_text_stats() -> str:
    return f"""
SELECT li.lang, li.predicted, li.n, ts.n_docs, ts.avg_tokens, ts.avg_chars, ts.max_tokens
FROM ({_oracle_lang_id()}) li JOIN ({ORACLE_TEXT_STATS}) ts USING (lang)
"""


# fixed weights for the oracle-checked quality-model scorer: w_i =
# (-1)^i · (1 + i/16) over the 16 hashed-embedding lanes, bias 0.1 —
# identical literals rendered in the DuckDB oracle (qs CTE)
_QM_WEIGHTS = [((-1) ** i) * (1.0 + i / 16.0) for i in range(16)] + [0.1]


def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis: token counts, quality scoring,
    rolling-hash fingerprint, BPE-ish token count, repeated-3-gram
    repetition ratio (the boilerplate/spam quality filter), the
    hashing-trick embedding's dominant lane + value (exercises the
    text→vector bridge — lane assignment, signed fold — against the
    SQL oracle; the dense array itself is pinned by pytest vs numpy),
    PLUS the Gopher repetition rules (top-{2,3,4}-gram fraction and
    duplicated-5-gram position coverage, operators/corpus_quality.py
    ::repetition_profile) and the DSIR hashed-unigram importance
    weight toward the lang='en' target domain (::dsir_weights), and the
    CCNet-style bigram-LM cross-entropy (::bigram_lm_scores, add-1
    smoothing, self-trained — the model-based quality filter) — one
    projection scan joined with explode-aggregate passes on doc_id."""
    from faiss_metal_spark.functions.text import hashed_embedding, repetition_ratio
    from faiss_metal_spark.operators.corpus_quality import (
        bigram_lm_scores,
        dsir_weights,
        repetition_profile,
    )
    from faiss_metal_spark.operators.quality_model import quality_model_score

    d = _t(spark, sf_dir, "documents")
    emb = hashed_embedding("text", d=16, normalize=False)
    top = F.array_max(emb)
    base = d.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        _norm(distinct_token_ratio("text"), 4).alias("distinct_ratio"),
        _norm(avg_token_len("text"), 4).alias("avg_token_len"),
        _norm(quality_score("text"), 4).alias("quality"),
        doc_fingerprint("text").alias("fp"),
        bpe_token_count("text").cast("long").alias("n_bpe"),
        _norm(repetition_ratio("text", 3), 4).alias("rep3"),
        F.array_position(emb, top).cast("long").alias("emb_lane"),
        top.cast("long").alias("emb_top"),
        # learned-quality scorer (operators/quality_model.py) under
        # FIXED literal weights: training is engine-specific (LBFGS),
        # but the scorer itself — normalized hashed embedding → dot →
        # sigmoid — is deterministic and SQL-renderable, so it gets a
        # hash check like every other projection here
        _norm(quality_model_score(_QM_WEIGHTS, "text"), 4).alias("mq_score"),
    )
    rep = repetition_profile(d).select(
        "doc_id",
        _norm(F.col("top2_frac"), 4).alias("top2_frac"),
        _norm(F.col("top3_frac"), 4).alias("top3_frac"),
        _norm(F.col("top4_frac"), 4).alias("top4_frac"),
        _norm(F.col("dup5_frac"), 4).alias("dup5_frac"),
    )
    dsir = dsir_weights(d, F.col("lang") == "en", buckets=64).select(
        "doc_id", _norm(F.col("weight"), 4).alias("dsir_en")
    )
    lm = bigram_lm_scores(d).select(
        "doc_id", _norm(F.col("cross_entropy"), 4).alias("bigram_ce")
    )
    return (
        base.join(rep, "doc_id").join(dsir, "doc_id").join(lm, "doc_id", "left")
    )


ORACLE_DOC_PROFILE = f"""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         [array_to_string(string_split(text, ' ')[i:i+2], ' ')
          FOR i IN range(1, len(string_split(text, ' ')) - 1)] AS grams
  FROM documents
), hp AS (
  SELECT doc_id, ({_sql_hash32('x')}) % 16 AS lane,
         CASE WHEN CAST(FLOOR(({_sql_hash32('x')}) / 65536) AS BIGINT) % 2 = 1
              THEN 1 ELSE -1 END AS sgn
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS x FROM documents)
), lanes AS (
  SELECT d.doc_id, r.lane, COALESCE(SUM(hp.sgn), 0) AS s
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(range(16)) AS lane) r
  LEFT JOIN hp ON hp.doc_id = d.doc_id AND hp.lane = r.lane
  GROUP BY d.doc_id, r.lane
), etop AS (
  SELECT doc_id, lane, s,
         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lane ASC) AS rn
  FROM lanes
), qs AS (  -- fixed-weight quality-model score over NORMALIZED lanes
  SELECT doc_id,
         SQRT(SUM(s * s)) AS nrm,
         SUM((CASE WHEN lane % 2 = 0 THEN 1.0 ELSE -1.0 END)
             * (1.0 + lane / 16.0) * s) AS dot
  FROM lanes GROUP BY doc_id
), rg AS (  -- tagged n-grams with positions, n in {{2,3,4,5}}
  SELECT doc_id, n,
         unnest(range(0, len(toks) - n + 1)) AS pos,
         unnest([array_to_string(toks[i:i+n-1], ' ')
                 FOR i IN range(1, len(toks) - n + 2)]) AS g,
         len(toks) AS nt
  FROM t CROSS JOIN (SELECT unnest([2, 3, 4, 5]) AS n) ns
  WHERE len(toks) >= n
), rc AS (
  SELECT doc_id, n, g, COUNT(*) AS cnt, MAX(nt) AS nt FROM rg GROUP BY doc_id, n, g
), rtop AS (
  SELECT doc_id, n, MAX(cnt) AS maxc, MAX(nt) AS nt
  FROM rc WHERE n IN (2, 3, 4) GROUP BY doc_id, n
), rcov AS (  -- positions covered by within-doc duplicated 5-grams
  SELECT doc_id, COUNT(*) AS cov FROM (
    SELECT DISTINCT rg.doc_id, rg.pos + off AS p
    FROM rg
    JOIN (SELECT doc_id, g FROM rc WHERE n = 5 AND cnt >= 2) d5
      ON d5.doc_id = rg.doc_id AND d5.g = rg.g
    CROSS JOIN (SELECT unnest(range(0, 5)) AS off) o
    WHERE rg.n = 5
  ) GROUP BY doc_id
), rep AS (
  SELECT t.doc_id,
    COALESCE(MAX(CASE WHEN rtop.n = 2 THEN (rtop.maxc * 2)::DOUBLE / rtop.nt END), 0) AS top2,
    COALESCE(MAX(CASE WHEN rtop.n = 3 THEN (rtop.maxc * 3)::DOUBLE / rtop.nt END), 0) AS top3,
    COALESCE(MAX(CASE WHEN rtop.n = 4 THEN (rtop.maxc * 4)::DOUBLE / rtop.nt END), 0) AS top4
  FROM t LEFT JOIN rtop ON rtop.doc_id = t.doc_id
  GROUP BY t.doc_id
), dtok AS (  -- DSIR hashed-unigram buckets (64), target = lang 'en'
  SELECT doc_id, lang = 'en' AS ist, ({_sql_hash32('x')}) % 64 AS b
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS x FROM documents)
), dstats AS (
  SELECT b, SUM(CASE WHEN ist THEN 1 ELSE 0 END) AS tc, COUNT(*) AS rc FROM dtok GROUP BY b
), dtot AS (
  SELECT SUM(CASE WHEN ist THEN 1 ELSE 0 END) AS tt, COUNT(*) AS rt FROM dtok
), dsir AS (
  SELECT doc_id,
         SUM(ln((s.tc + 1)::DOUBLE) - ln((dtot.tt + 64)::DOUBLE)
             - ln((s.rc + 1)::DOUBLE) + ln((dtot.rt + 64)::DOUBLE)) AS w
  FROM dtok JOIN dstats s USING (b) CROSS JOIN dtot
  GROUP BY doc_id
), bg AS (  -- bigram stream (parallel unnests zip positionally)
  SELECT doc_id,
         unnest(toks[1:len(toks)-1]) AS a,
         unnest(toks[2:len(toks)]) AS b
  FROM t WHERE len(toks) >= 2
), c2 AS (SELECT a, b, COUNT(*) AS c2 FROM bg GROUP BY a, b),
c1 AS (SELECT a, SUM(c2) AS c1 FROM c2 GROUP BY a),
vv AS (
  SELECT COUNT(DISTINCT x) AS v
  FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)
), lm AS (  -- add-1-smoothed bigram cross-entropy (CCNet-style filter)
  SELECT bg.doc_id,
         -AVG(ln(c2.c2 + 1.0) - ln(c1.c1 + 1.0 * vv.v)) AS ce
  FROM bg JOIN c2 USING (a, b) JOIN c1 USING (a) CROSS JOIN vv
  GROUP BY bg.doc_id
)
SELECT t.doc_id, len(toks) AS n_tokens,
  ROUND(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4) + 0.0 AS distinct_ratio,
  ROUND(list_sum([length(x) FOR x IN toks]) / CAST(len(toks) AS DOUBLE), 4) + 0.0 AS avg_token_len,
  ROUND(0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
      + 0.3 * LEAST(len(toks) / 64.0, 1.0)
      + 0.3 * LEAST(list_sum([length(x) FOR x IN toks]) / CAST(len(toks) AS DOUBLE) / 8.0, 1.0),
      4) + 0.0 AS quality,
  list_reduce(
    list_prepend(0::BIGINT, [{_sql_hash32('x')} FOR x IN toks]),
    (acc, v) -> (acc * 31 + v) % 2147483647
  ) AS fp,
  len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe,
  ROUND(CASE WHEN len(toks) >= 3
             THEN 1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)
             ELSE 0.0 END, 4) + 0.0 AS rep3,
  CAST(etop.lane + 1 AS BIGINT) AS emb_lane,
  CAST(etop.s AS BIGINT) AS emb_top,
  ROUND(1.0 / (1.0 + exp(-(0.1 + CASE WHEN qs.nrm > 0 THEN qs.dot / qs.nrm
                                      ELSE 0.0 END))), 4) + 0.0 AS mq_score,
  ROUND(rep.top2, 4) + 0.0 AS top2_frac,
  ROUND(rep.top3, 4) + 0.0 AS top3_frac,
  ROUND(rep.top4, 4) + 0.0 AS top4_frac,
  ROUND(COALESCE(rcov.cov, 0)::DOUBLE / len(toks), 4) + 0.0 AS dup5_frac,
  ROUND(dsir.w, 4) + 0.0 AS dsir_en,
  ROUND(lm.ce, 4) + 0.0 AS bigram_ce
FROM t
JOIN etop ON etop.doc_id = t.doc_id AND etop.rn = 1
JOIN qs ON qs.doc_id = t.doc_id
JOIN rep ON rep.doc_id = t.doc_id
LEFT JOIN rcov ON rcov.doc_id = t.doc_id
JOIN dsir ON dsir.doc_id = t.doc_id
LEFT JOIN lm ON lm.doc_id = t.doc_id
"""


def q_simhash_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH near-dup family, tagged: 'sig' rows carry the SimHash
    signatures (doc_id, signature), 'pair' rows the SimHash banded
    near-dup pairs (id_a, id_b, hamming), and 'mh' rows the
    MinHash-LSH candidate pairs (8 hashes, 4 bands — the banding
    engine behind curate_corpus, checked standalone here; hamming is
    NULL for them), and 'imh' rows the INCREMENTAL MinHash-LSH pairs
    (docs < 400 arrive as a delta against the persisted band index of
    the rest — delta-vs-corpus + delta-internal collisions only,
    corpus text never rescanned)."""
    d = _t(spark, sf_dir, "documents")
    # both union branches consume sig; materialize it once (the
    # signature build is a full corpus scan — lazy reuse would run it
    # twice, and union branches can race a plain cache). The two
    # checkpoints are INDEPENDENT eager jobs over the same scan, and
    # each underfills the cluster at headline sf — build them from a
    # thread pool (the ann_pq/ann_compact pattern, build steps only;
    # every lane below stays lazy). Measured at sf0.1: ~2.9 s of
    # sequential checkpoint time → ~1.6 s overlapped.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_sig = pool.submit(lambda: simhash_signatures(d).localCheckpoint())
        f_mh = pool.submit(
            lambda: minhash_signatures(
                d, num_hashes=8, shingle_size=3
            ).localCheckpoint()
        )
        sig = f_sig.result()
        mh_sig = f_mh.result()
    pairs = simhash_neardup_pairs(sig, bands=4, max_hamming=3)
    mh = lsh_candidate_pairs(mh_sig, num_hashes=8, bands=4).select(
        F.lit("mh").alias("kind"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.lit(None).cast("int").alias("hamming"),
    )
    # 'imh' rows: the incremental form — docs < 400 arrive as a delta
    # against the persisted band index of the rest; equals the batch
    # pairs restricted to delta-touching ones (the invariant
    # test_incremental_lsh_dedup_equals_batch pins), which is exactly
    # what the SQL oracle states. The index side REUSES mh_sig (a
    # doc's signature is independent of other docs, so the corpus
    # subset of the batch signature table IS the persisted index —
    # that reuse is the operator's whole point: only the constant-size
    # delta pays text→signature work here, at every sf).
    from faiss_metal_spark.operators.dedup import (
        incremental_lsh_dedup,
        lsh_band_buckets,
    )

    idx = lsh_band_buckets(
        mh_sig.where(F.col("doc_id") >= 400), num_hashes=8, bands=4
    )
    ipairs, _ = incremental_lsh_dedup(
        d.where(F.col("doc_id") < 400), idx, num_hashes=8, bands=4
    )
    imh = ipairs.select(
        F.lit("imh").alias("kind"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.lit(None).cast("int").alias("hamming"),
    )
    srows = sig.select(
        F.lit("sig").alias("kind"),
        F.col("doc_id").alias("a"),
        F.col("simhash").alias("b"),
        F.lit(None).cast("int").alias("hamming"),
    )
    prows = pairs.select(
        F.lit("pair").alias("kind"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.col("hamming").cast("int").alias("hamming"),
    )
    return srows.unionByName(prows).unionByName(mh).unionByName(imh)


def _oracle_simhash_all() -> str:
    return f"""
WITH {_sql_simhash_sig()},
bkt AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS bkey
  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)
)
SELECT 'sig' AS kind, doc_id AS a, simhash AS b, CAST(NULL AS INTEGER) AS hamming FROM sig
UNION ALL
SELECT 'pair', id_a, id_b, hamming FROM (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM bkt a JOIN bkt b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
)
UNION ALL
SELECT 'mh', id_a, id_b, CAST(NULL AS INTEGER)
FROM (WITH {_MINHASH_CTES} SELECT id_a, id_b FROM pairs) mhp
UNION ALL
SELECT 'imh', id_a, id_b, CAST(NULL AS INTEGER)
FROM (WITH {_MINHASH_CTES} SELECT id_a, id_b FROM pairs) imhp
WHERE id_a < 400 OR id_b < 400
"""


def q_window_funcs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag + bounded-frame moving average + unbounded running total per
    user, all in one window pass (deterministic (ts, event_id) frame)."""
    from pyspark.sql.window import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wm = w.rowsBetween(-3, Window.currentRow)
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "user_id",
        "event_id",
        _norm(F.lag("value").over(w), 2).alias("prev_value"),
        _norm(F.avg("value").over(wm), 4).alias("moving_avg"),
        _norm(F.sum("value").over(wr), 2).alias("running_value"),
    )


ORACLE_WINDOW_FUNCS = """
SELECT user_id, event_id,
  ROUND(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) + 0.0 AS prev_value,
  ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) + 0.0 AS moving_avg,
  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING), 2) + 0.0 AS running_value
FROM events
"""


def q_setops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT + INTERSECT over the same year cohorts, tagged by op."""
    exc = q_except_customers(spark, sf_dir).select(
        F.lit("except").alias("op"), "o_custkey"
    )
    itc = q_intersect_customers(spark, sf_dir).select(
        F.lit("intersect").alias("op"), "o_custkey"
    )
    return exc.unionByName(itc)


ORACLE_SETOPS = f"""
SELECT 'except' AS op, o_custkey FROM ({ORACLE_EXCEPT})
UNION ALL
SELECT 'intersect', o_custkey FROM ({ORACLE_INTERSECT})
"""


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi (EXISTS) + left-anti (NOT EXISTS) joins, tagged."""
    semi = q_semi_join(spark, sf_dir).select(
        F.lit("semi_heavy_orders").alias("op"),
        F.col("o_orderpriority").alias("grp"),
        F.col("n_orders").alias("n"),
    )
    anti = q_anti_join(spark, sf_dir).select(
        F.lit("anti_idle_customers").alias("op"),
        F.col("c_mktsegment").alias("grp"),
        F.col("n_customers").alias("n"),
    )
    return semi.unionByName(anti)


ORACLE_SEMI_ANTI = f"""
SELECT 'semi_heavy_orders' AS op, o_orderpriority AS grp, n_orders AS n
FROM ({ORACLE_SEMI_JOIN})
UNION ALL
SELECT 'anti_idle_customers', c_mktsegment, n_customers FROM ({ORACLE_ANTI_JOIN})
"""


def q_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over lineitem + CUBE over orders, tagged."""
    r = q_rollup(spark, sf_dir).select(
        F.lit("lineitem_rollup").alias("src"),
        F.col("returnflag").alias("k1"),
        F.col("linestatus").alias("k2"),
        "n",
        F.col("sum_price").alias("agg"),
    )
    c = q_cube_orders(spark, sf_dir).select(
        F.lit("orders_cube").alias("src"),
        F.col("status").alias("k1"),
        F.col("priority").alias("k2"),
        "n",
        F.col("total").alias("agg"),
    )
    return r.unionByName(c)


ORACLE_ROLLUP_CUBE = f"""
SELECT 'lineitem_rollup' AS src, returnflag AS k1, linestatus AS k2, n,
       sum_price AS agg
FROM ({ORACLE_ROLLUP})
UNION ALL
SELECT 'orders_cube', status, priority, n, total FROM ({ORACLE_CUBE})
"""


def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct + KLL-style percentile sketches, HASH-CHECKED via
    a bounded-error contract (VERDICT r9 #2): the sketch estimates
    themselves are engine-specific, so the hashed columns are (a) the
    EXACT counterparts every engine must agree on (count, exact
    distinct, exact continuous p50/p95) and (b) in-band assertion
    booleans that the sketches land within their documented bounds —
    ``users_ok``: |HLL++(rsd=0.01) − exact| ≤ 5%·exact; ``p50_ok`` /
    ``p95_ok``: the percentile_approx(accuracy=10000) value lies
    between the exact continuous quantiles at ±0.05/±0.02 rank (rank
    error ≤ n/accuracy ≪ that band). The oracle recomputes the exact
    lanes and emits TRUE for the booleans, so a sketch drifting out of
    bound fails the hash — the sketches still RUN on every call; only
    their raw estimates stay out of the hash. Point accuracy is
    additionally pinned by tests/test_joins.py."""
    e = _events(spark, sf_dir)
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.01).alias("_au"),
        F.expr("percentile(value, 0.5)").alias("_p50e"),
        F.expr("percentile(value, 0.95)").alias("_p95e"),
        F.expr("percentile(value, 0.45)").alias("_p50lo"),
        F.expr("percentile(value, 0.55)").alias("_p50hi"),
        F.expr("percentile(value, 0.93)").alias("_p95lo"),
        F.expr("percentile(value, 0.97)").alias("_p95hi"),
        F.percentile_approx("value", 0.5, 10000).alias("_p50a"),
        F.percentile_approx("value", 0.95, 10000).alias("_p95a"),
    )
    return agg.select(
        "event_type",
        "n",
        "exact_users",
        _norm(F.col("_p50e"), 4).alias("p50"),
        _norm(F.col("_p95e"), 4).alias("p95"),
        (
            F.abs(F.col("_au") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("users_ok"),
        (
            (F.col("_p50a") >= F.col("_p50lo"))
            & (F.col("_p50a") <= F.col("_p50hi"))
        ).alias("p50_ok"),
        (
            (F.col("_p95a") >= F.col("_p95lo"))
            & (F.col("_p95a") <= F.col("_p95hi"))
        ).alias("p95_ok"),
    )


ORACLE_APPROX_SKETCHES = """
SELECT event_type,
       count(*) AS n,
       count(DISTINCT user_id) AS exact_users,
       round(quantile_cont(value, 0.5), 4) + 0.0 AS p50,
       round(quantile_cont(value, 0.95), 4) + 0.0 AS p95,
       TRUE AS users_ok,
       TRUE AS p50_ok,
       TRUE AS p95_ok
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: L2 kNN (gemm path) over sf0.001 embeddings."""
    return _knn_query("l2", 0, 8, 10, "gemm")(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 keys — the size of the driver's checked window — in
    risk-first order (novel pipeline operators, then similarity, then
    relational). Consolidated keys verify several operators each; see
    COVERAGE.md for the operator → query map."""
    return {
        # -- dedup / text / multimodal pipeline operators ---------------
        "dedup_exact": q_dedup_exact,
        "dedup_clusters": q_dedup_clusters,
        "curate_corpus": q_curate_corpus,
        "decontaminate": q_decontaminate,
        "corpus_splits": q_corpus_splits,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash_all": q_simhash_all,
        "embedding_neardup": q_embedding_neardup,
        "lang_text_stats": q_lang_text_stats,
        "doc_profile": q_doc_profile,
        "winnow_fingerprints": q_winnow,
        "tfidf_top_terms": q_tfidf_top_terms,
        "mm_byte_stats": q_mm_byte_stats,
        "mm_frames": q_mm_frames,
        "mm_thumbnail": q_mm_thumbnail,
        "mm_audio": q_mm_audio,
        # -- vector search (the reference's core) -----------------------
        "knn_metrics": q_knn_metrics,
        "knn_l2_sql": q_knn_l2_sql_range,
        "knn_highk": q_knn_highk_filtered,
        "knn_join": q_knn_join,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "mllib_index_build": q_mllib_index_build,
        "ann_pq": q_ann_pq,
        "ann_compact": q_ann_compact,
        # -- relational / analytical ------------------------------------
        "tpch_q1": q_tpch_q1,
        "tpch_q5": q_tpch_q5,
        "tpch_q12": q_tpch_q12,
        "tpch_q18": q_tpch_q18,
        "tpch_scalars": q_tpch_scalars,
        "tpch_top_revenue": q_tpch_top_revenue,
        "top_ranks": q_top_ranks,
        "idle_rich_customers": q_idle_rich_customers,
        "orders_monthly": q_orders_monthly,
        "part_brand_stats": q_part_brand_stats,
        "window_funcs_events": q_window_funcs_events,
        "order_quartiles": q_order_quartiles,
        "setops_customers": q_setops_customers,
        "grouping_sets_events": q_grouping_sets_events,
        "range_join_balance": q_range_join_balance,
        "event_windows": q_event_windows,
        "approx_sketches": q_approx_sketches,
        "above_brand_avg": q_above_brand_avg,
        "semi_anti_join": q_semi_anti_join,
        "rollup_cube": q_rollup_cube,
        "pivot_events": q_pivot_events,
        "event_sessions": q_event_sessions,
        "event_type_profile": q_event_type_profile,
        "asof_last_purchase": q_asof_last_purchase,
        "join_within": q_join_within,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "dedup_clusters": _oracle_dedup_clusters(),
        "curate_corpus": _ORACLE_CURATE_TAGGED,
        "decontaminate": ORACLE_DECONTAM,
        "corpus_splits": ORACLE_SPLITS,
        "ngram_jaccard": _oracle_ngram_jaccard(),
        "simhash_all": _oracle_simhash_all(),
        "embedding_neardup": ORACLE_NEARDUP,
        "lang_text_stats": _oracle_lang_text_stats(),
        "doc_profile": ORACLE_DOC_PROFILE,
        "winnow_fingerprints": ORACLE_WINNOW,
        "tfidf_top_terms": ORACLE_TFIDF,
        "mm_byte_stats": ORACLE_MM_BYTE_STATS,
        "mm_frames": ORACLE_MM_FRAMES,
        "mm_thumbnail": ORACLE_MM_THUMBNAIL,
        "mm_audio": ORACLE_MM_AUDIO,
        "knn_metrics": _oracle_knn_metrics(),
        "knn_l2_sql": _oracle_knn_l2_sql_range(),
        "knn_highk": _oracle_knn_highk_filtered(),
        "knn_join": _knn_oracle("l2", 0, 64, 10),
        "ann_lsh": _oracle_ann_lsh(),
        # ann_ivf / ann_pq: FIXED quantizers (first-n embedding rows),
        # so assignment + probe + encode + ADC + top-k hash-match SQL.
        "ann_ivf": ORACLE_ANN_IVF,
        "ann_pq": _oracle_ann_pq(),
        "ann_compact": _oracle_ann_compact(),
        # mllib_index_build: deterministic parameterizations of the
        # distributed build machinery (Lloyd loop, fixed-plane LSH,
        # exact graph, permutation-OPQ); the stochastic trainers stay
        # test-pinned (test_mllib_ann / test_knn_graph / test_opq).
        "mllib_index_build": _oracle_mllib_index_build(),
        # approx_sketches: exact lanes + bounded-error booleans — the
        # sketches run but only their pass/fail contract is hashed.
        "approx_sketches": ORACLE_APPROX_SKETCHES,
        "tpch_q1": ORACLE_Q1,
        "tpch_q5": ORACLE_Q5,
        "tpch_q12": ORACLE_Q12,
        "tpch_q18": ORACLE_Q18,
        "tpch_scalars": ORACLE_TPCH_SCALARS,
        "tpch_top_revenue": ORACLE_TPCH_TOP_REVENUE,
        "top_ranks": ORACLE_TOP_RANKS,
        "idle_rich_customers": ORACLE_IDLE_RICH,
        "orders_monthly": ORACLE_ORDERS_MONTHLY,
        "part_brand_stats": ORACLE_PART_BRAND_STATS,
        "window_funcs_events": ORACLE_WINDOW_FUNCS,
        "order_quartiles": ORACLE_QUARTILES,
        "setops_customers": ORACLE_SETOPS,
        "grouping_sets_events": ORACLE_GROUPING_SETS,
        "range_join_balance": ORACLE_RANGE_JOIN,
        "event_windows": ORACLE_EVENT_WINDOWS,
        "above_brand_avg": ORACLE_ABOVE_BRAND_AVG,
        "semi_anti_join": ORACLE_SEMI_ANTI,
        "rollup_cube": ORACLE_ROLLUP_CUBE,
        "pivot_events": ORACLE_PIVOT,
        "event_sessions": ORACLE_SESSIONS,
        "event_type_profile": ORACLE_EVENT_TYPE_PROFILE,
        "asof_last_purchase": ORACLE_ASOF,
        "join_within": ORACLE_JOIN_WITHIN,
    }
