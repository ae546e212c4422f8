"""Lexical retrieval over the documents corpus: BM25 top-k.

The reference engine has no text-retrieval surface; this is one of the
training-data-pipeline extensions (SURVEY.md §2.9): corpus curation
needs query-driven slicing ("find the docs about X") next to the
similarity/dedup operators, and BM25 is the standard lexical scorer.

Scale shape (the part that matters at 100 TB):
- For a SHORT query (the common case), scoring is a pure column
  expression: per-term tf via `size(filter(tokens, w -> w = term))`,
  no explode, no shuffle, no Python. The only extra work is one tiny
  corpus-stats aggregate (N, Σdl, per-term document frequencies) that
  broadcasts back as a single row — two scans total, both fully
  column-pruned and codegen'd, then a TakeOrdered top-k (no global
  sort materialization).
- For REPEATED ad-hoc queries, the persisted index store at the
  bottom of this module (save_bm25_index / bm25_topk_from_index) IS
  the inverted-index shape: the corpus tokenizes once into
  denormalized postings and each query reads only its own terms'
  row groups — bit-identical to bm25_topk via the shared _bm25_rank
  tail.

Determinism contract (oracle-testable): every floating-point step is a
fixed left-to-right expression over exact integer aggregates (tf, df,
N, Σdl are all ints), so Spark and DuckDB produce bit-identical
doubles — no transcendentals (the classic log-idf is replaced by the
raw idf ratio (N - df + 0.5)/(df + 0.5), which is monotone in the
log variant, so top-k sets with distinct scores are identical while
staying engine-exact).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..store import read_meta, read_parquet, write_meta

K1 = 1.2
B = 0.75


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k docs by BM25-style score for a bag of query terms.

    Output: (id_col, score DOUBLE, n_hit INT) ordered by
    (score DESC, id ASC); only docs containing >= 1 query term rank.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = list(query_terms)
    # NULL text folds to the empty string so dl/tf are well-defined
    # (size(split(NULL)) is -1 under non-ANSI Spark) and the index
    # store sees the same doc set
    ws = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")

    def tf_of(term: str) -> Column:
        # NB: a two-parameter lambda would make F.filter pass (elem, idx)
        return F.size(F.filter(ws, lambda w: w == F.lit(term)))

    base = docs.select(
        F.col(id_col),
        F.size(ws).alias("dl"),
        *[tf_of(term).alias(f"tf{i}") for i, term in enumerate(terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    return _bm25_rank(scored, len(terms), id_col, k, k1, b)


def _bm25_rank(
    scored: DataFrame,
    n_terms: int,
    id_col: str,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Shared scoring tail of bm25_topk and bm25_topk_from_index: the
    frame carries (id_col, dl, tf0..tfN-1, df0..dfN-1, n_docs, sum_dl)
    and the SAME left-to-right float expression ranks it, so the
    corpus-scan and index-store paths are bit-identical by
    construction."""
    avgdl = F.col("sum_dl") / F.col("n_docs").cast("double")
    c0 = 1.0 - b  # exact float computed once; literal matches the oracle

    def term_score(i: int) -> Column:
        tf = F.col(f"tf{i}")
        idf = (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5)) / (
            F.col(f"df{i}") + F.lit(0.5)
        )
        tfc = (tf * F.lit(k1 + 1.0)) / (
            tf + F.lit(k1) * (F.lit(c0) + F.lit(b) * F.col("dl") / avgdl)
        )
        return idf * tfc

    score = reduce(lambda a, c: a + c, [term_score(i) for i in range(n_terms)])
    n_hit = reduce(
        lambda a, c: a + c,
        [(F.col(f"tf{i}") > 0).cast("int") for i in range(n_terms)],
    )
    return (
        scored.select(
            F.col(id_col),
            score.alias("score"),
            n_hit.alias("n_hit"),
        )
        .where(F.col("n_hit") > 0)
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def bm25_oracle_sql(
    query_terms: list[str],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB SQL computing bm25_topk with the identical left-to-right
    float expression (see module docstring for why this is bit-exact)."""
    tf_cols = ",\n         ".join(
        f"len(list_filter(string_split(COALESCE({text_col}, ''), ' '), "
        f"w -> w = '{t}'))"
        f" AS tf{i}"
        for i, t in enumerate(query_terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(query_terms))
    )
    c0 = 1.0 - b
    # NB: every literal gets e0 notation — DuckDB parses bare `0.5` as
    # DECIMAL(2,1) and its decimal arithmetic rounds differently from
    # IEEE doubles (1-ulp divergence from the Spark side otherwise)
    term_scores = " + ".join(
        f"(((n_docs - df{i} + 0.5e0) / (df{i} + 0.5e0)) * "
        f"((tf{i} * {k1 + 1.0!r}e0) / "
        f"(tf{i} + {k1!r}e0 * ({c0!r}e0 + {b!r}e0 * dl / (sum_dl / CAST(n_docs AS DOUBLE))))))"
        for i in range(len(query_terms))
    )
    n_hit = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(query_terms))
    )
    return f"""
    WITH base AS (
      SELECT {id_col}, len(string_split(COALESCE({text_col}, ''), ' ')) AS dl,
         {tf_cols}
      FROM {table}
    ), stats AS (
      SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl, {df_cols}
      FROM base
    )
    SELECT {id_col}, {term_scores} AS score,
           CAST({n_hit} AS INTEGER) AS n_hit
    FROM base, stats
    WHERE {n_hit} > 0
    ORDER BY score DESC, {id_col}
    LIMIT {k}
    """


def tfidf_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-k docs by TF-IDF score — the plain-vector-space sibling of
    bm25_topk, same two-scan zero-shuffle plan (per-term tf as a column
    expression, one broadcast stats row, TakeOrdered top-k).

    score = sum_t tf_t * (N / df_t): the raw df ratio replaces log-idf
    (monotone per term, no transcendental), each term contributes one
    exact-int-operand division and multiply, and the sum folds
    left-to-right in query order — bit-identical on both engines.
    Output (id, score DOUBLE, n_hit INT) ordered by (score DESC, id)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = list(query_terms)
    ws = F.split(F.col(text_col), " ")

    def tf_of(term: str) -> Column:
        return F.size(F.filter(ws, lambda w: w == F.lit(term)))

    base = docs.select(
        F.col(id_col),
        *[tf_of(term).alias(f"tf{i}") for i, term in enumerate(terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))

    def term_score(i: int) -> Column:
        # tf * N / df, left-to-right; df 0 => tf 0 => the 0 * inf trap
        # never fires because the term is skipped via when()
        return F.when(
            F.col(f"df{i}") > 0,
            F.col(f"tf{i}").cast("double")
            * (
                F.col("n_docs").cast("double")
                / F.col(f"df{i}").cast("double")
            ),
        ).otherwise(F.lit(0.0))

    score = reduce(lambda a, c: a + c, [term_score(i) for i in range(len(terms))])
    n_hit = reduce(
        lambda a, c: a + c,
        [(F.col(f"tf{i}") > 0).cast("int") for i in range(len(terms))],
    )
    return (
        scored.select(F.col(id_col), score.alias("score"), n_hit.alias("n_hit"))
        .where(F.col("n_hit") > 0)
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def tfidf_oracle_sql(
    query_terms: list[str],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> str:
    """DuckDB SQL computing tfidf_topk with the identical
    left-to-right float expression."""
    tf_cols = ",\n         ".join(
        f"len(list_filter(string_split({text_col}, ' '), w -> w = '{t}'))"
        f" AS tf{i}"
        for i, t in enumerate(query_terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(query_terms))
    )
    term_scores = " + ".join(
        f"(CASE WHEN df{i} > 0 THEN CAST(tf{i} AS DOUBLE) * "
        f"(CAST(n_docs AS DOUBLE) / CAST(df{i} AS DOUBLE)) ELSE 0e0 END)"
        for i in range(len(query_terms))
    )
    n_hit = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(query_terms))
    )
    return f"""
    WITH base AS (
      SELECT {id_col},
         {tf_cols}
      FROM {table}
    ), stats AS (
      SELECT count(*) AS n_docs, {df_cols}
      FROM base
    )
    SELECT {id_col}, {term_scores} AS score,
           CAST({n_hit} AS INTEGER) AS n_hit
    FROM base, stats
    WHERE {n_hit} > 0
    ORDER BY score DESC, {id_col}
    LIMIT {k}
    """


RRF_C = 60


def rrf_fusion(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    k: int = 10,
    k_each: int = 20,
    c: int = RRF_C,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion (Cormack et al. 2009):
    fuse the BM25 lexical top-k_each with the exact-cosine vector
    top-k_each for one query, score = sum over rankers of
    1/(c + rank), missing ranker contributes 0.

    Output: (doc_id, lex_rank, vec_rank, rrf_score DOUBLE) ordered by
    (rrf_score DESC, doc_id), limit k. Ranks are NULL where the doc is
    absent from that ranker's list. The query's own document may rank
    lexically (RRF fuses heterogeneous rankers as-is); the vector
    ranker excludes self-matches by construction.

    Scale shape: ALL heavy work happens inside the two upstream
    scorers, each already a bounded-top-k scan (bm25_topk: two
    column-pruned corpus scans + TakeOrdered; topk_bruteforce: one
    broadcast-query candidate scan + per-query rank window). The
    fusion itself joins two <=k_each-row frames — driver-free, and at
    cluster scale a trivially broadcast join.

    Determinism contract: ranks are integers; 1/(c+rank) is a single
    IEEE division of exact integers and the final score adds exactly
    two such doubles — bit-identical on any engine, like the BM25
    score expression above (rrf_oracle_sql is the DuckDB twin).
    """
    if c <= 0:
        raise ValueError("rrf c must be positive")
    from . import similarity

    lex_w = Window.orderBy(F.desc("score"), F.col(id_col))
    lex = (
        bm25_topk(docs, query_terms, id_col=id_col, text_col=text_col, k=k_each)
        .select(id_col, F.row_number().over(lex_w).alias("lex_rank"))
    )
    vec = (
        similarity.topk_bruteforce(
            embeddings.where(F.col(vec_id_col) == query_vec_id),
            embeddings,
            id_col=vec_id_col,
            vec_col=vec_col,
            k=k_each,
        )
        .select(F.col("neighbor_id").alias(id_col), F.col("rank").alias("vec_rank"))
    )
    contrib = lambda r: F.coalesce(  # noqa: E731 - tiny local twin-use lambda
        F.lit(1.0) / (F.lit(c) + F.col(r)).cast("double"), F.lit(0.0)
    )
    return (
        lex.join(vec, id_col, "full_outer")
        .select(
            id_col,
            "lex_rank",
            "vec_rank",
            (contrib("lex_rank") + contrib("vec_rank")).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.col(id_col))
        .limit(k)
    )


def rrf_oracle_sql(
    query_terms: list[str],
    query_vec_id: int,
    dim: int,
    k: int = 10,
    k_each: int = 20,
    c: int = RRF_C,
    doc_table: str = "documents",
    emb_table: str = "embeddings",
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB SQL computing rrf_fusion bit-for-bit (same rank windows,
    same single-division contributions; cosine rounded to 6 decimals
    exactly as similarity.cosine does)."""
    tf_cols = ",\n         ".join(
        f"len(list_filter(string_split({text_col}, ' '), w -> w = '{t}'))"
        f" AS tf{i}"
        for i, t in enumerate(query_terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(query_terms))
    )
    c0 = 1.0 - b
    term_scores = " + ".join(
        f"(((n_docs - df{i} + 0.5e0) / (df{i} + 0.5e0)) * "
        f"((tf{i} * {k1 + 1.0!r}e0) / "
        f"(tf{i} + {k1!r}e0 * ({c0!r}e0 + {b!r}e0 * dl / (sum_dl / CAST(n_docs AS DOUBLE))))))"
        for i in range(len(query_terms))
    )
    n_hit = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(query_terms))
    )

    def dot(a: str, bb: str) -> str:
        return (
            f"list_sum(list_transform(range({dim}), "
            f"i -> CAST({a}[i+1] AS DOUBLE) * CAST({bb}[i+1] AS DOUBLE)))"
        )

    return f"""
    WITH base AS (
      SELECT {id_col}, len(string_split({text_col}, ' ')) AS dl,
         {tf_cols}
      FROM {doc_table}
    ), stats AS (
      SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl, {df_cols}
      FROM base
    ), lex AS (
      SELECT {id_col} AS doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, {id_col})
                  AS INTEGER) AS lex_rank
      FROM (SELECT {id_col}, {term_scores} AS score
            FROM base, stats WHERE {n_hit} > 0) s
      QUALIFY lex_rank <= {k_each}
    ), qv AS (
      SELECT {vec_col} AS qvec FROM {emb_table}
      WHERE {vec_id_col} = {query_vec_id}
    ), vec AS (
      SELECT neighbor_id AS doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, neighbor_id)
                  AS INTEGER) AS vec_rank
      FROM (
        SELECT {vec_id_col} AS neighbor_id,
               round({dot('qvec', vec_col)} /
                     (sqrt({dot('qvec', 'qvec')}) *
                      sqrt({dot(vec_col, vec_col)})), 6) AS sim
        FROM {emb_table}, qv WHERE {vec_id_col} != {query_vec_id}
      ) s
      QUALIFY vec_rank <= {k_each}
    )
    SELECT COALESCE(lex.doc_id, vec.doc_id) AS {id_col},
           lex_rank, vec_rank,
           COALESCE(1e0 / CAST({c} + lex_rank AS DOUBLE), 0e0)
           + COALESCE(1e0 / CAST({c} + vec_rank AS DOUBLE), 0e0) AS rrf_score
    FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
    ORDER BY rrf_score DESC, {id_col}
    LIMIT {k}
    """


# --- persisted BM25 index store ----------------------------------------------
#
# The never-rescan pattern (minhash signature store, shingle store,
# drift sketch, multimodal band store) applied to lexical retrieval:
# the corpus tokenizes ONCE into a postings table and every later
# query reads ONLY its own terms' postings — at 100 TB the corpus scan
# per ad-hoc query is the cost bm25_topk cannot avoid, and this store
# removes it.  Postings are DENORMALIZED (term, doc_id, tf, dl) so
# query-time scoring needs NO join back to a corpus-sized doc-length
# table; they land range-partitioned and sorted by term, so the
# per-query read prunes to the query terms' row groups via parquet
# min/max stats (plan-asserted PushedFilters in the suite).


def save_bm25_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Build the persisted index: postings (term, doc_id, tf, dl)
    range-partitioned + sorted by term; per-term document frequencies
    (vocabulary-sized); ONE corpus-stats row (n_docs, sum_dl) computed
    over the FULL corpus (empty docs count toward avgdl exactly as in
    bm25_topk); a meta.json pinning (id_col, the split-on-space
    tokenizer) so a drifted reader raises instead of silently scoring
    against wrong conventions."""
    base = path.rstrip("/")
    # the same NULL-folds-to-empty convention as bm25_topk, so null-
    # text docs still land one ('' token) posting row and the stats
    # reconstructed from disk count the full corpus
    ws = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    tokens = docs.select(
        F.col(id_col), F.size(ws).alias("dl"), F.explode(ws).alias("term")
    )
    postings = tokens.groupBy("term", id_col, "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )
    (
        postings.repartitionByRange(F.col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(base + "/postings")
    )
    # df AND stats from the postings just written, never from a second
    # scan of docs: the manifest lesson from the shard sink — derived
    # tables must agree with what landed on disk even under a
    # non-deterministic input.  Every doc appears in the postings
    # (split-on-space of an empty string still yields one '' token),
    # so (n_docs, sum_dl) reconstruct exactly from one (doc, dl) row
    # per doc.
    spark = docs.sparkSession
    on_disk = read_parquet(spark, base + "/postings")
    on_disk.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    ).write.mode("overwrite").parquet(base + "/df")
    on_disk.groupBy(id_col).agg(F.first("dl").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    ).write.mode("overwrite").parquet(base + "/stats")
    write_meta(spark, base, {"id_col": id_col, "tokenizer": "split-space"})


def bm25_topk_from_index(
    spark,
    path: str,
    query_terms: list[str],
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Score a query against the persisted index: read ONLY the query
    terms' postings (isin filter -> parquet row-group pruning on the
    term-sorted layout), pivot the <= |terms| rows per candidate doc
    into the (tf0.., df0..) column shape, and rank through the SAME
    shared expression as bm25_topk — bit-identical results without
    touching the corpus.  Terms map to positional indices BEFORE the
    pivot, so arbitrary term strings never become column names."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    base = path.rstrip("/")
    read_meta(spark, base, {"id_col": id_col, "tokenizer": "split-space"},
              "bm25 index")
    terms = list(query_terms)
    # duplicate query terms are legal in bm25_topk (the term scores
    # twice); map every term to its FIRST occurrence's index so
    # create_map never sees a duplicate key, pivot once on the
    # distinct indices, and alias duplicates back to their source
    # column — exact parity with the corpus-scan path
    first_idx: dict[str, int] = {}
    for i, t_ in enumerate(terms):
        first_idx.setdefault(t_, i)
    src_of = [first_idx[t_] for t_ in terms]
    dvals = sorted(set(src_of))
    tmap = F.create_map(
        *[x for t_, i in first_idx.items() for x in (F.lit(t_), F.lit(i))]
    )
    posts = (
        read_parquet(spark, base + "/postings")
        .where(F.col("term").isin(terms))
        .withColumn("ti", tmap[F.col("term")])
    )
    piv = (
        posts.groupBy(id_col, "dl")
        .pivot("ti", dvals)
        .agg(F.first("tf"))
        .select(
            F.col(id_col),
            F.col("dl"),
            *[
                F.coalesce(F.col(str(src_of[i])), F.lit(0)).alias(f"tf{i}")
                for i in range(len(terms))
            ],
        )
    )
    dfs = (
        read_parquet(spark, base + "/df")
        .where(F.col("term").isin(terms))
        .withColumn("ti", tmap[F.col("term")])
        .groupBy()
        .pivot("ti", dvals)
        .agg(F.first("df"))
        .select(
            *[
                F.coalesce(F.col(str(src_of[i])), F.lit(0)).alias(f"df{i}")
                for i in range(len(terms))
            ]
        )
    )
    stats = read_parquet(spark, base + "/stats")
    scored = piv.crossJoin(F.broadcast(stats)).crossJoin(F.broadcast(dfs))
    return _bm25_rank(scored, len(terms), id_col, k, k1, b)
