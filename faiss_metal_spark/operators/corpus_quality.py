"""Corpus-quality operators for LLM training-data pipelines.

Three operators the reference engine has no analog for (its §2 surface
is vector search; these extend the training-data side the same way the
dedup family does), all pure Catalyst and all ANSI-SQL-expressible so
the driver's DuckDB gate hash-checks them end-to-end:

- :func:`repetition_profile` — per-document n-gram repetition metrics
  in the shape of the Gopher repetition rules (Rae et al. 2021,
  "Scaling Language Models", Table A1): fraction of the document
  accounted for by its most frequent {2,3,4}-gram, and the fraction of
  token positions covered by any 5-gram that occurs more than once in
  the document. Documents dominated by boilerplate/loops score high
  and get filtered before training.
- :func:`duplicate_spans` — cross-document duplicated-substring spans
  (the word-granular form of exact substring deduplication, Lee et
  al. 2022 "Deduplicating Training Data Makes Language Models
  Better"): every maximal run of token positions covered by an n-gram
  occurring ≥ ``min_count`` times corpus-wide, as (doc, start, end)
  spans ready to cut out of the training text.
- :func:`dsir_weights` — hashed-n-gram importance weights (Xie et
  al. 2023, "Data Selection for Language Models via Importance
  Resampling"): per-document Σ log(p_target(b)/p_raw(b)) over hashed
  token buckets with add-1 smoothing, where *target* is a caller-given
  predicate (the domain to up-sample toward) and *raw* is the whole
  corpus.

Scale notes (100 TB discipline):

- Everything explodes to at most O(total tokens) rows, immediately
  aggregated with map-side combine; no operator holds a whole document
  set in one task.
- ``duplicate_spans`` shuffles 8-byte xxhash64 gram keys, never gram
  strings (the DuckDB oracle joins on the raw strings — a collision
  would surface as a hash-gate mismatch, same contract as
  ``ngram_jaccard_pairs``).
- ``dsir_weights``'s bucket statistics table is ``buckets`` rows —
  broadcast to the token join by construction; corpus totals are a
  1-row aggregate cross-joined in. One corpus scan computes target and
  raw counts together (conditional aggregation), one more scores docs.
- Windows partition by doc_id only in the island merge of
  ``duplicate_spans``, where the partition is one document's covered
  positions (≤ its token count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import token_hash32


def _tok_col(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def _gram_structs(tt: Column, n: int) -> Column:
    """array<struct<pos int, g string>> of word n-grams with 0-based
    start positions; empty when the doc has fewer than n tokens
    (guarded — Spark's sequence(0, negative) would count downward)."""
    return F.when(
        F.size(tt) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tt) - n),
            lambda i: F.struct(
                i.alias("pos"),
                F.concat_ws(" ", F.slice(tt, i + 1, n)).alias("g"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))


def repetition_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_n: int = 5,
) -> DataFrame:
    """Per-doc repetition metrics: ``top{n}_frac`` = (count of the most
    frequent n-gram)·n / n_tokens for each n in ``top_ns`` (the Gopher
    "fraction in most common n-gram" rule, token-granular), and
    ``dup{dup_n}_frac`` = fraction of token positions covered by some
    dup_n-gram occurring ≥2× within the doc (the Gopher "fraction in
    duplicated n-grams" rule — positions counted once, not per gram).

    One explode serves every n (grams are tagged), one more join
    resolves coverage; all aggregations combine map-side.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"), _tok_col(text_col).alias("tt")
    ).select("doc_id", "tt", F.size("tt").alias("n_tokens"))

    # r15: the tagged-gram expression renders as ONE F.expr SQL string —
    # the Column-API build (4 × nested transform/struct lambdas) was
    # ~0.4 s of driver-side py4j construction per call (guide §5;
    # equality pinned by tests/test_r15_expr_equiv.py). Same bind-once
    # semantics: `i` and `s` are lambda variables.
    def _gs_sql(n: int) -> str:
        return (
            f"CASE WHEN size(tt) >= {n} THEN "
            f"transform(sequence(0, size(tt) - {n}), i -> named_struct("
            f"'n', {n}, 'pos', i, 'g', concat_ws(' ', slice(tt, i + 1, {n})))) "
            f"ELSE CAST(array() AS array<struct<n:int,pos:int,g:string>>) END"
        )

    tagged = (
        "flatten(array(" + ", ".join(_gs_sql(n) for n in (*top_ns, dup_n)) + "))"
    )
    # inline() explodes the struct array straight into (n, pos, g)
    # columns — one DataFrame op instead of explode + unpack select
    # (every DataFrame transformation is an eager analyzer pass)
    grams = base.select("doc_id", "n_tokens", F.expr(f"inline({tagged})"))

    counts = grams.groupBy("doc_id", "n", "g").agg(
        F.count(F.lit(1)).alias("cnt"), F.first("n_tokens").alias("n_tokens")
    )
    top = (
        counts.where(F.col("n").isin(list(top_ns)))
        .groupBy("doc_id", "n")
        .agg(F.max("cnt").alias("maxc"), F.first("n_tokens").alias("n_tokens"))
        .groupBy("doc_id")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            *[
                F.expr(
                    f"max(CASE WHEN n = {n} THEN "
                    f"CAST(maxc * {n} AS DOUBLE) / n_tokens END) AS top{n}_frac"
                )
                for n in top_ns
            ],
        )
    )
    dup_grams = counts.where((F.col("n") == dup_n) & (F.col("cnt") >= 2)).select(
        "doc_id", "g"
    )
    covered = (
        grams.where(F.col("n") == dup_n)
        .join(dup_grams, ["doc_id", "g"], "left_semi")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + dup_n - 1)).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("cov"))
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(top.drop("n_tokens"), "doc_id", "left")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            *[
                F.coalesce(F.col(f"top{n}_frac"), F.lit(0.0)).alias(f"top{n}_frac")
                for n in top_ns
            ],
            (
                F.coalesce(F.col("cov"), F.lit(0)).cast("double") / F.col("n_tokens")
            ).alias(f"dup{dup_n}_frac"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize_grams: bool = False,
) -> DataFrame:
    """Maximal duplicated-substring spans, word-granular: token
    positions covered by any n-gram whose corpus-wide occurrence count
    is ≥ ``min_count`` are merged into maximal runs per document.
    Returns (doc_id, span_start, span_end, span_tokens) with 0-based
    inclusive token indices — the spans exact-substring dedup would cut.

    The corpus-wide gram count groups on xxhash64 keys (8 bytes on the
    shuffle); the island merge is a per-doc window over covered
    positions (gaps-and-islands: a break wherever the previous covered
    position isn't pos−1).

    ``materialize_grams`` (r14): localCheckpoint the hashed gram table
    so the text→explode→hash stage runs once instead of once per plan
    branch (the df-count aggregate and the semi-join probe each
    re-evaluate it lazily) — the ngram_jaccard_pairs
    ``materialize_shingles`` trade (r13): 20 bytes per gram stored vs
    a second full explode+hash pass; values identical either way.
    Measured at sf0.1: 1.9-2.2 s → 1.4 s for the dupspan lane.

    Retention caveat (library callers): the checkpointed gram blocks
    stay in the block manager until a JVM GC lets the ContextCleaner
    release them — ``spark.catalog.clearCache()`` does NOT free them
    and the driver's Python ``gc.collect()`` only drops py4j handles.
    A long-lived session invoking this repeatedly with
    ``materialize_grams=True`` should call ``spark._jvm.System.gc()``
    periodically (the engine's bench does, once per key) or leave the
    flag off.
    """
    grams = (
        docs.select(F.col(id_col).alias("doc_id"), _tok_col(text_col).alias("tt"))
        .select("doc_id", F.explode(_gram_structs(F.col("tt"), n)).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.xxhash64("s.g").alias("gh"))
    )
    if materialize_grams:
        grams = grams.localCheckpoint()
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("gh")
    )
    covered = (
        grams.join(dup, "gh", "left_semi")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("p"),
        )
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    islands = covered.withColumn(
        "brk", F.when(F.col("p") - F.lag("p", 1).over(w) == 1, 0).otherwise(1)
    ).withColumn("isl", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return islands.groupBy("doc_id", "isl").agg(
        F.min("p").alias("span_start"),
        F.max("p").alias("span_end"),
        (F.max("p") - F.min("p") + 1).alias("span_tokens"),
    ).drop("isl")


def dsir_weights(
    docs: DataFrame,
    target: Column,
    buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashed-unigram DSIR importance weights: each token hashes to one
    of ``buckets`` buckets (md5-based :func:`token_hash32` mod B —
    cross-engine stable); bucket unigram models with add-1 smoothing
    are fit for the ``target`` subset and the whole corpus in ONE
    conditional aggregation pass; each document scores
    Σ_tokens log(p̂_target(b) / p̂_raw(b)). Returns
    (doc_id, n_tok, weight). Positive weight ⇒ the doc looks more like
    the target domain than the corpus average — resample ∝ exp(weight).

    The bucket-stats side is B rows (broadcast join); totals ride in a
    1-row cross join. Lazy end to end: no action until the caller's.
    """
    # r15: hot expressions render as F.expr SQL strings — one py4j call
    # each instead of dozens (equality pinned by
    # tests/test_r15_expr_equiv.py); the ln/CAST chains are the exact
    # SQL the Column API built.
    from ..functions.text import _sql_h32

    # bucket-hash INSIDE the token array, then one explode — same
    # per-token md5 count, same values. The caller's text column is
    # projected once under a fixed alias (F.col resolves any name,
    # nested fields included), so the SQL never interpolates it.
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        target.alias("_is_target"),
        F.col(text_col).alias("_text"),
    ).select(
        "doc_id",
        "_is_target",
        F.expr(
            "explode(transform(split(_text, ' '), "
            f"t -> pmod({_sql_h32('t')}, {buckets}))) AS b"
        ),
    )
    _tgt = "sum(CASE WHEN _is_target THEN 1 ELSE 0 END)"
    stats = tok.groupBy("b").agg(
        F.expr(f"{_tgt} AS tc"), F.expr("count(1) AS rc")
    )
    totals = tok.agg(F.expr(f"{_tgt} AS tt"), F.expr("count(1) AS rt"))
    scored = (
        tok.join(F.broadcast(stats), "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.expr(
                "ln(CAST(coalesce(tc, 0) + 1 AS DOUBLE)) "
                f"- ln(CAST(tt + {buckets} AS DOUBLE)) "
                "- ln(CAST(coalesce(rc, 0) + 1 AS DOUBLE)) "
                f"+ ln(CAST(rt + {buckets} AS DOUBLE)) AS lr"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.expr("count(1) AS n_tok"), F.expr("sum(lr) AS weight")
    )


def bigram_lm_scores(
    docs: DataFrame,
    train: DataFrame | None = None,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram-LM cross-entropy per document — the model-based quality
    filter of CCNet (Wenzek et al. 2020: score each doc under an LM
    trained on a reference corpus; high perplexity ⇒ off-distribution
    junk). The LM here is an add-α-smoothed bigram model:

        p(b|a) = (c(a,b) + α) / (c(a,·) + α·V)

    trained on ``train`` (default: ``docs`` itself — self-scoring
    flags a doc's divergence from its own corpus), where V is the
    train vocabulary size and c(a,·) counts token *a* as a bigram
    context. Returns (doc_id, n_bigrams, cross_entropy) with
    cross_entropy = −mean log p over the doc's bigrams (perplexity =
    exp(cross_entropy)); docs with < 2 tokens have no bigrams and are
    absent from the result (left-join on the caller side if needed).

    Scale shape: bigram counts aggregate map-side into the distinct-
    bigram table (the LM — this is the one corpus-scale state, keyed
    by bigram, shuffled once at train and joined once at score);
    context counts derive from the same aggregation (no second scan);
    V and the α terms travel in a 1-row cross join. All double math,
    ANSI-SQL-expressible end to end.
    """
    if train is None:
        train = docs

    def _bigrams(df: DataFrame, keep_id: bool) -> DataFrame:
        # r15: one F.expr string (the Column build was ~40 py4j calls
        # per invocation, and this runs twice per score); the inline
        # repetition of the split mirrors the Column API exactly —
        # equality pinned by tests/test_r15_expr_equiv.py. The text
        # column is projected once under a fixed alias, so the SQL never
        # interpolates the caller's column name.
        sp = "split(_text, ' ')"
        pairs = (
            f"CASE WHEN size({sp}) >= 2 THEN "
            f"transform(sequence(0, size({sp}) - 2), i -> named_struct("
            f"'a', element_at({sp}, i + 1), 'b', element_at({sp}, i + 2))) "
            f"ELSE CAST(array() AS array<struct<a:string,b:string>>) END"
        )
        ids = ["doc_id"] if keep_id else []
        text = df.select(
            *[F.col(id_col).alias(c) for c in ids], F.col(text_col).alias("_text")
        )
        # inline() emits (a, b) directly
        return text.select(*ids, F.expr(f"inline({pairs})"))

    c2 = _bigrams(train, keep_id=False).groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("c2")
    )
    c1 = c2.groupBy("a").agg(F.sum("c2").alias("c1"))
    vocab = train.select(
        F.explode(_tok_col(text_col)).alias("t")
    ).agg(F.countDistinct("t").alias("v"))

    a_lit = f"{float(alpha)!r}D"
    scored = (
        _bigrams(docs, keep_id=True)
        .join(c2, ["a", "b"], "left")
        .join(c1, "a", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.expr(
                f"ln(coalesce(c2, 0) + {a_lit}) "
                f"- ln(coalesce(c1, 0) + {a_lit} * v) AS lp"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.expr("count(1) AS n_bigrams"),
        F.expr("-avg(lp) AS cross_entropy"),
    )
