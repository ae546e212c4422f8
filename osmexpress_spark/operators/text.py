"""Text-analysis operators for training-data pipelines.

Beyond reference parity (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting. Everything is
built-in column expressions (JVM-side, codegen-friendly) — at 100 TB a
per-row Python UDF here would dominate the whole pipeline cost.

Determinism is part of the contract: each function is expressible 1:1
in DuckDB SQL (see queries_data.py oracles), using only md5, integer
arithmetic, and rational ratios rounded at fixed precision.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import lineage

STOPWORDS = ["the", "a", "of", "and", "to", "in"]

# marker words per language for the n-gram/keyword heuristic; the
# lexicographic fallback makes the argmax total.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht"],
    "en": ["the", "a", "is", "and", "of"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "la", "les", "et", "ne"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (single-space contract; use a BPE-ish
    regex split upstream for raw corpora)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def stopword_count(text: Column) -> Column:
    return F.size(F.filter(tokens(text), lambda w: w.isin(*STOPWORDS)))


def avg_token_len(text: Column) -> Column:
    """Mean token length, rounded to 4 (int/int ratio — deterministic)."""
    ws = tokens(text)
    total = F.aggregate(
        F.transform(ws, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return F.round(total.cast("double") / F.size(ws), 4)


def quality_score(text: Column) -> Column:
    """Toy quality heuristic: long-enough docs with moderate stopword
    ratio score higher. All-rational arithmetic, rounded to 4."""
    n = token_count(text)
    stop_ratio = stopword_count(text).cast("double") / n
    len_score = F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    return F.round(0.5 * len_score + 0.5 * (1.0 - stop_ratio), 4)


def lang_scores(text: Column) -> dict[str, Column]:
    ws = tokens(text)
    return {
        lang: F.size(F.filter(ws, lambda w: w.isin(*markers)))
        for lang, markers in sorted(LANG_MARKERS.items())
    }


def lang_id(text: Column) -> Column:
    """Argmax of marker-word hit counts; ties resolve to the
    lexicographically first language (total order => oracle-matchable)."""
    scores = lang_scores(text)
    langs = sorted(scores)
    best_lang = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        better = scores[lang] > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, scores[lang]).otherwise(best_score)
    return best_lang


def fingerprint(text: Column, length: int = 16) -> Column:
    """Content fingerprint: md5 prefix of the normalized text."""
    return F.substring(F.md5(F.trim(F.lower(text))), 1, length)


def regex_tokens(text: Column) -> Column:
    """BPE-ish tokenization for raw corpora: word runs, digit runs, and
    single punctuation marks each become tokens (the pre-tokenizer
    split most BPE vocabularies assume). Pure column expressions."""
    marked = F.regexp_replace(
        text, r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])", "$1\x01"
    )
    return F.filter(
        F.transform(F.split(marked, "\x01"), F.trim), lambda tk: tk != ""
    )


def rolling_fingerprint(text: Column, k: int = 8) -> Column:
    """Sliding-window document fingerprint: the minimum hash over all
    character k-gram windows (winnowing-style; md5 stands in for the
    rolling polynomial so the oracle can reproduce it bit-for-bit).
    NULL when the text is shorter than k."""
    return F.array_min(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - k + 1, F.lit(1))),
            lambda i: F.md5(F.substr(text, i, F.lit(k))),
        )
    )


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def pii_redact(text: Column, pattern: str = PII_EMAIL,
               token: str = "<REDACTED>") -> Column:
    """PII scrub (the pre-release corpus hygiene step): replace every
    match of `pattern` (default: email addresses) with a fixed token.
    Pure column expression; the pattern is deliberately conservative
    RE2-compatible syntax so engines agree."""
    return F.regexp_replace(text, pattern, token)


def pii_count(text: Column, pattern: str = PII_EMAIL) -> Column:
    """Number of PII matches scrubbed (the audit metric)."""
    return F.size(F.regexp_extract_all(text, F.lit(f"({pattern})")))


def chunk_bounds(text: Column, window: int, overlap: int) -> Column:
    """Number of fixed-size character chunks with overlap: chunk i
    covers [1 + i*(window-overlap), +window). Integer ceil-div, min 1 —
    identical arithmetic on both engines."""
    step = window - overlap
    # ceil-div via +step-1 then truncate: operands stay small-positive,
    # so double-divide + long cast is exact and engine-identical
    return F.greatest(
        F.lit(1).cast("long"),
        ((F.length(text) - F.lit(overlap) + F.lit(step - 1)) / F.lit(step))
        .cast("long"),
    )


def chunks(df: DataFrame, id_col: str, text_col: str,
           window: int = 64, overlap: int = 16) -> DataFrame:
    """Fixed-window document chunking (the context-window split step of
    a training pipeline): one output row per (doc, chunk_idx) with the
    chunk text. posexplode over a sequence — fully pipelined, no
    shuffle, output rows ~ total_chars/step."""
    step = window - overlap
    n = chunk_bounds(F.col(text_col), window, overlap)
    ex = df.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        F.posexplode(F.sequence(F.lit(0).cast("long"), n - 1)).alias(
            "_pos", "_i"
        ),
    )
    return ex.select(
        F.col(id_col),
        F.col("_pos").alias("chunk_idx"),
        F.substr(
            F.col("_t"), (F.col("_i") * step + 1).cast("int"), F.lit(window)
        ).alias("chunk_text"),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str,
                     k: int = 2) -> DataFrame:
    """Gopher-style repetition signals: (n_grams, n_distinct_grams,
    max_gram_freq) per doc over word k-grams. High max_freq/n or low
    distinct/n flags boilerplate/templated docs. Explode + two
    aggregations — shuffle keys are (doc, gram) hashes, map-side
    combined."""
    from .dedup import shingles

    grams = df.select(
        F.col(id_col),
        F.explode(
            # non-distinct k-grams: repetition is the signal here
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.size(F.split(F.col(text_col), " ")) - k, F.lit(0)
                    ),
                ),
                lambda i: F.concat_ws(
                    " ",
                    F.slice(F.split(F.col(text_col), " "), i + 1, k),
                ),
            )
        ).alias("g"),
    )
    per_gram = grams.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct_grams"),
        F.max("c").alias("max_gram_freq"),
    )


def boilerplate_ngrams(
    df, id_col: str, text_col: str, n: int = 3, min_docs: int = 2
):
    """Cross-document boilerplate detector: word n-grams present in at
    least `min_docs` DISTINCT documents, with the document count.
    The standard pre-filter for template/navigation boilerplate (and a
    cheap contamination screen) before near-dup clustering.

    Scale shape: shingles() already emits the per-document DISTINCT
    n-gram set as a pure column expression, so each (doc, gram) pair
    occurs once and the document count is a plain COUNT(*) — a
    map-side-combinable aggregate with no COUNT(DISTINCT) expansion.
    Output is gram-keyed and tiny relative to the corpus (only grams
    crossing the threshold survive)."""
    from pyspark.sql import functions as F

    from .dedup import shingles

    g = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("gram")
    )
    return (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def gopher_flags(text: Column, min_words: int = 20, max_words: int = 100000,
                 min_mean_len: int = 3, max_mean_len: int = 10) -> Column:
    """Gopher-style document quality gates (Rae et al. 2021,
    arXiv:2112.11446 Table A1), as a struct of booleans + the combined
    keep flag. Every rule is an INTEGER inequality — mean word length
    in [3,10] is `3*n <= total_len <= 10*n`, the >=80% alpha-word rule
    is `5*n_alpha >= 4*n` — so there is no rounded rational anywhere
    (module-header rule) and the oracle replays the rules exactly.
    The line-based rules (bullet ratio, duplicate lines) live in
    repetition_stats: the whitespace token contract has no line
    structure."""
    ws = tokens(text)
    n = F.size(ws)
    total_len = F.aggregate(
        F.transform(ws, F.length), F.lit(0), lambda acc, x: acc + x
    )
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    # DISTINCT stopwords: Rae et al. require "at least 2 of the
    # following words" — repeating one stopword twice must not pass
    n_stop = F.size(
        F.array_distinct(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    )
    ok_words = (n >= min_words) & (n <= max_words)
    ok_mean = (total_len >= min_mean_len * n) & (total_len <= max_mean_len * n)
    ok_alpha = n_alpha * 5 >= n * 4
    ok_stop = n_stop >= 2
    return F.struct(
        ok_words.alias("ok_word_count"),
        ok_mean.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_ratio"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_mean & ok_alpha & ok_stop).alias("keep"),
    )


def normalize(text: Column) -> Column:
    """Canonical text normalization for dedup keys and tokenizer
    input: lowercase, collapse whitespace runs to single spaces, trim.
    Pure column expression. The whitespace class is EXPLICIT
    ([ \\t\\n\\r\\f]) rather than \\s: Java's \\s matches vertical tab,
    RE2's (DuckDB) does not — an explicit class means both engines
    rewrite the same characters. ASCII contract (the corpus schema's):
    non-ASCII case folding is locale-dependent on the JVM and is not
    attempted."""
    return F.trim(
        F.regexp_replace(F.lower(text), "[ \\t\\n\\r\\f]+", " ")
    )


# Fixed demo weights for the quality classifier, in integer micro-units
# (weight * 1e6). A real pipeline trains these offline (sklearn /
# Spark ML) and ships the vector the same way; inference below is
# weight-agnostic. Order: [bias, n_tokens, total_token_len,
# n_alpha_tokens, n_distinct_stopwords, n_digit_tokens].
LOGREG_WEIGHTS_MICRO = [-2_000_000, 12_000, -3_000, 25_000, 400_000, -150_000]


def quality_logreg(
    text: Column, weights_micro: list[int] | None = None
) -> Column:
    """Linear quality-classifier inference as a pure column expression:
    struct(logit_micro BIGINT, keep BOOLEAN).

    The feature vector is all exact integers (token count, total token
    length, alpha-token count, DISTINCT stopword count, digit-token
    count) and the weights arrive as integer micro-units, so the logit
    is an exact BIGINT dot product — sigmoid is monotone, so
    classification (logit > 0 <=> p > 0.5) and ranking need no
    transcendental at all (the module's no-rounded-rational rule).
    Zero shuffle, whole-stage codegen; at 100 TB this is a scan-side
    predicate like gopher_flags.
    """
    w = LOGREG_WEIGHTS_MICRO if weights_micro is None else weights_micro
    if len(w) != 6:
        raise ValueError("quality_logreg expects 6 weights (bias + 5)")
    ws = tokens(text)
    n = F.size(ws).cast("long")
    total_len = F.aggregate(
        F.transform(ws, F.length), F.lit(0), lambda acc, x: acc + x
    ).cast("long")
    n_alpha = F.size(F.filter(ws, lambda t: t.rlike("[A-Za-z]"))).cast("long")
    n_stop = F.size(
        F.array_distinct(F.filter(ws, lambda t: t.isin(*STOPWORDS)))
    ).cast("long")
    n_digit = F.size(F.filter(ws, lambda t: t.rlike("^[0-9]+$"))).cast("long")
    logit = (
        F.lit(w[0])
        + F.lit(w[1]) * n
        + F.lit(w[2]) * total_len
        + F.lit(w[3]) * n_alpha
        + F.lit(w[4]) * n_stop
        + F.lit(w[5]) * n_digit
    ).cast("long")
    return F.struct(
        logit.alias("logit_micro"), (logit > 0).alias("keep")
    )


# --- HTML -> text extraction (web-crawl ingest) ------------------------------
#
# The CommonCrawl-shaped ingest step: crawled documents arrive as HTML
# and every downstream curation operator (dedup, quality, lang-id,
# tokenization) wants visible text. The extraction is a fixed chain of
# RE2-compatible regexp_replace passes — no backreferences, explicit
# whitespace classes — so Spark (Java regex) and DuckDB (RE2) agree
# byte-for-byte and the operator stays a pure scan-side column
# expression: zero shuffle, zero Python, pipelines with every other
# gate in the same Catalyst stage.

_HTML_PASSES = [
    # script/style payloads vanish entirely (their text is not content);
    # two passes because RE2 has no backreferences to share one
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),        # comments
    (r"(?s)<[^>]*>", " "),           # every remaining tag
]

# decoded AFTER tag removal, &amp; strictly last (standard order, so
# '&amp;lt;' decodes to the literal '&lt;' and never to '<')
_HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def html_strip(html: Column) -> Column:
    """Visible text of an HTML document: drop script/style/comments,
    strip tags, decode the six ubiquitous entities, collapse
    whitespace. Returns trimmed single-spaced text.

    This is extraction, not parsing: malformed HTML degrades to 'tags
    removed where recognizable' instead of erroring, which is the
    behavior a 100 TB crawl actually needs (a parser that throws on
    tag soup stops the job; regex extraction is total). The whitespace
    class is written out explicitly ([ \\t\\n\\r\\f]) because Java and
    RE2 disagree on whether \\s includes \\x0B."""
    out = html
    for pat, repl in _HTML_PASSES:
        out = F.regexp_replace(out, pat, repl)
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"[ \t\n\r\f]+", " "))


def html_strip_sql(expr: str) -> str:
    """The DuckDB twin of html_strip over SQL expression `expr` —
    identical pass order; DuckDB regexp_replace needs the explicit 'g'
    flag where Spark's is always global."""
    out = expr
    for pat, repl in _HTML_PASSES:
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    for ent, ch in _HTML_ENTITIES:
        lit = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{lit}')"
    return f"trim(regexp_replace({out}, '[ \\t\\n\\r\\f]+', ' ', 'g'))"


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10,
) -> DataFrame:
    """Heaps-law vocabulary-growth census: split the corpus into
    ``n_buckets`` equal id-RANGE buckets (bucket = floor(id * B /
    (max_id + 1)) — a scan-side expression, never a global-order
    window, so there is no single-partition sort at any scale), and
    report per bucket how many distinct tokens appear there for the
    FIRST time (``new_tokens``) alongside the bucket's total token
    occurrences (``total_tokens``). The tokenizer-design diagnostic:
    a healthy crawl's new_tokens decays like a power law; a flat or
    rising tail means unbounded vocabulary (serial numbers, hashes,
    boilerplate mutations) that will bloat any learned vocab.

    Scale shape: one token explode -> min-bucket aggregate (the only
    shuffle, vocabulary-sized with map-side combine), one map-side
    total count, one <= n_buckets-row outer join; max_id is a single
    scalar agg. Exact integers throughout — oracle-checkable."""
    if n_buckets < 1:
        raise ValueError("vocab_growth: n_buckets must be >= 1")
    max_id = df.agg(F.max(F.col(id_col)).cast("long")).collect()[0][0]
    if max_id is None:
        raise ValueError("vocab_growth: empty input")
    # floor() explicitly (not a truncating cast) so the formula is the
    # same expression both engines evaluate; ids are nonnegative so
    # floor == truncate anyway, but the oracle should match textually
    bucket = F.floor(
        F.col(id_col).cast("long") * n_buckets / F.lit(int(max_id) + 1)
    ).cast("long")
    toks = df.select(
        bucket.alias("bucket"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    first = (
        toks.groupBy("tok")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_tokens"))
    )
    totals = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("total_tokens")
    )
    return totals.join(first, "bucket", "left_outer").select(
        "bucket",
        F.coalesce("new_tokens", F.lit(0).cast("long")).alias("new_tokens"),
        "total_tokens",
    )


def compression_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression census: ``(id, n_bytes,
    n_compressed)`` — the classic information-density quality signal
    (CCNet/Gopher-family filters): template/boilerplate text
    compresses far below ~0.4x, near-random byte soup barely
    compresses at all, and both tails are what a quality gate trims.
    Ratio = n_compressed / n_bytes downstream; exact integers here.

    This is one of the repo's SANCTIONED Arrow seams (alongside the
    multimodal decoders and the BPE encoder): zlib has no JVM column
    expression, so the compress runs inside ONE mapInPandas stage —
    Arrow batches in, two integer columns out, zero shuffle, and the
    text column never round-trips row-at-a-time through Python. zlib
    output is bit-stable for a fixed (input, level) across CPython
    builds (RFC 1950 stream, fixed strategy), so the census is
    deterministic; it is repo-tested (pinned goldens + ordering
    property) rather than DuckDB-oracled because DuckDB exposes no
    zlib."""
    from collections.abc import Iterator

    import pandas as pd

    if not 0 <= level <= 9:
        raise ValueError("compression_stats: level must be in [0, 9]")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            raw = [
                t.encode("utf-8") if t is not None else b""
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": [len(b) for b in raw],
                    "n_compressed": [
                        len(zlib.compress(b, level)) for b in raw
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        run, f"{id_col} long, n_bytes long, n_compressed long"
    )


def distinctive_terms(
    df,
    group_col: str,
    text_col: str,
    top_k: int = 10,
):
    """Per-group distinctive vocabulary (the "what makes this domain
    different" census behind mixture design and domain tagging): for
    every (group, token), an add-one-smoothed in-vs-out frequency lift

        lift_ppm = 1_000_000 * k_gt * (N - n_g)
                   DIV ((k_t - k_gt + 1) * n_g)

    where k_gt = token count inside the group, n_g = group token
    total, k_t = corpus token count, N = corpus total — the integer
    cross-multiplied form of (in-rate / out-rate), so the score and
    therefore the ranking is exact and engine-independent (no log, no
    float; the log-odds variant orders identically for fixed smoothing
    because log is monotone).  Top ``top_k`` per group with the
    deterministic (lift desc, in-count desc, token asc) tie-break.

    Shape at scale: one explode + map-side-combined count to the
    (group x token) frame; group totals broadcast (|groups| rows); the
    corpus total is a 1-row broadcast; token totals join shuffles on
    the token key — vocabulary-sized, not corpus-sized.  The ranking
    window partitions by group over group-local vocabularies.  The
    lift numerator is ~N * k_gt: beyond ~2^63/N counts, pre-scale the
    ppm factor down (ordering is unchanged) or move the internal
    product to decimal(38,0).
    """
    from pyspark.sql import DataFrame, Window  # local: keep module import light

    assert isinstance(df, DataFrame)
    toks = df.select(
        F.col(group_col).alias("_grp"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    st = toks.groupBy("_grp", "token").agg(
        F.count(F.lit(1)).cast("long").alias("in_count")
    )
    g_tot = st.groupBy("_grp").agg(F.sum("in_count").alias("_n_g"))
    t_tot = st.groupBy("token").agg(F.sum("in_count").alias("_k_t"))
    tot = st.agg(F.sum("in_count").alias("_n_all"))
    j = (
        st.join(F.broadcast(g_tot), "_grp")
        .join(t_tot, "token")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lift_ppm",
            F.expr(
                "1000000 * in_count * (_n_all - _n_g) DIV "
                "((_k_t - in_count + 1) * _n_g)"
            ),
        )
    )
    w = Window.partitionBy("_grp").orderBy(
        F.col("lift_ppm").desc(), F.col("in_count").desc(), F.col("token")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .select(
            F.col("_grp").alias(group_col),
            "token",
            "in_count",
            "lift_ppm",
            "rnk",
        )
    )


def hashed_features(text: Column, dim: int = 64) -> Column:
    """Feature-hashing vectorizer (Weinberger et al. 2009, 'Feature
    Hashing for Large Scale Multitask Learning'): tokens hash into a
    FIXED dim-bucket count vector, so free-vocabulary text becomes a
    dense array<double> the whole embedding stack (kmeans_train_
    distributed, topk_*, pca_project, drift censuses) consumes with no
    vocabulary table, no fit step, and no shuffle — the classic
    hashing trick for corpora whose vocabulary would itself be a big
    table at 100 TB.

    Bucket = first 12 md5 hex chars as a 48-bit integer mod dim (the
    registry's engine-portable hash — xxhash64 exists only in Spark);
    counts are exact integers cast to double at the boundary, so the
    vector is deterministic and oracle-recomputable cell by cell.
    NULL folds to the empty string (one '' token), matching the BM25
    tokenizer convention: every document gets a vector.

    Shape: hash ONCE per token (one transform), then fold the bucket
    array into the count vector with an aggregate whose step is O(dim)
    integer adds — scan-side, no explode, no shuffle.  The obvious
    transform(sequence(dim)) x filter(tokens) form re-evaluates the
    md5 chain for every bucket index (interpreted higher-order lambdas
    don't cache children): measured 11.6x slower at sf0.1 for
    identical output."""
    from . import sketch

    ws = F.split(F.coalesce(text, F.lit("")), " ")
    bs = F.transform(
        ws, lambda w: sketch.hash48(w) % F.lit(dim).cast("bigint")
    )
    return F.aggregate(
        bs,
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, b: F.transform(
            acc,
            lambda c, i: c
            + F.when(b == i.cast("bigint"), F.lit(1.0)).otherwise(F.lit(0.0)),
        ),
    )


def hashed_features_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
) -> DataFrame:
    """Per-document summary of the hashed vector — nnz (occupied
    buckets), l2sq (exact integer squared norm) and top_bucket (argmax
    count, ties to the lowest bucket) — derived from the SAME vector
    expression, so a driver gate over these scalars pins every cell of
    the vectorizer (a changed hash, dim, or tokenizer moves at least
    one of them). All three are JVM array folds on the scan."""
    v = hashed_features(F.col(text_col), dim=dim)
    iv = F.transform(v, lambda c: c.cast("bigint"))
    # Two-step projection: the vector fold is an interpreted
    # higher-order expression (never codegen), and building all three
    # scalars in one select inlines it once PER SCALAR — three full
    # hash+fold evaluations per row.  Naming it in a child projection
    # computes it once per row (CollapseProject keeps the split: the
    # alias is non-cheap and multiply referenced).  The scan is also
    # fanned out when narrower than the session's slots — the bench
    # fixture is one row group, which would run the interpreted fold
    # serially; at scale the condition is false and the plan is
    # unchanged.
    src = lineage.fan_out(df.select(F.col(id_col), F.col(text_col)))
    base = src.select(F.col(id_col), iv.alias("_v"))
    pv = F.col("_v")
    return base.select(
        F.col(id_col),
        F.size(F.filter(pv, lambda c: c > 0)).alias("nnz"),
        F.aggregate(
            pv, F.lit(0).cast("bigint"), lambda a, c: a + c * c
        ).alias("l2sq"),
        (F.array_position(pv, F.array_max(pv)) - 1).cast("integer").alias(
            "top_bucket"
        ),
    )


# --------------------------------------------------------------------------
# URL parsing / normalization (web-crawl ingest).  One RE2-safe grammar
# shared verbatim with the DuckDB oracle (no backrefs, no lookaround),
# so both engines split a URL identically; everything below is
# scan-side JVM string work — zero Python, zero shuffle.

URL_RE = (
    "^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/:?#]+)(?::([0-9]+))?"
    "([^?#]*)(?:\\?([^#]*))?(?:#(.*))?$"
)
_DEFAULT_PORTS = [("http", 80), ("https", 443), ("ftp", 21)]


def url_scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, URL_RE, 1))


def url_host(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, URL_RE, 2))


def url_port(url: Column) -> Column:
    """Effective port: the explicit one, else the scheme default,
    else NULL (unknown scheme with no explicit port)."""
    explicit = F.regexp_extract(url, URL_RE, 3)
    scheme = url_scheme(url)
    default = F.lit(None).cast("int")
    for name, port in _DEFAULT_PORTS:
        default = F.when(scheme == name, F.lit(port)).otherwise(default)
    return F.when(explicit != "", explicit.cast("int")).otherwise(default)


def url_path(url: Column) -> Column:
    """The path, '/' when absent (RFC 3986 normalization of the empty
    path for an authority-form URL)."""
    p = F.regexp_extract(url, URL_RE, 4)
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_query(url: Column) -> Column:
    return F.regexp_extract(url, URL_RE, 5)


def url_path_depth(url: Column) -> Column:
    """Count of non-empty path segments."""
    segs = F.filter(
        F.split(url_path(url), "/"), lambda s: s != F.lit("")
    )
    return F.size(segs).cast("int")


def url_param_count(url: Column) -> Column:
    q = url_query(url)
    return (
        F.when(q == "", F.lit(0))
        .otherwise(F.size(F.split(q, "&")))
        .cast("int")
    )


def registrable_domain(url: Column) -> Column:
    """Last two dot-labels of the host — the grouping key for
    per-site quotas and politeness.  Documented simplification: a real
    deployment swaps in the Public Suffix List (co.uk-style suffixes
    need it); the operator shape (scan-side extract, zero shuffle) is
    the same."""
    return F.regexp_extract(url_host(url), "([^.]+\\.[^.]+)$", 1)


# --------------------------------------------------------------------------
# Public Suffix List registrable domains (VERDICT r10 next-round #3).
#
# The PSL algorithm (publicsuffix.org/list/): split the host into
# dot-labels; a rule matches when its labels are a suffix of the
# host's labels ('*' matches exactly one label); the prevailing rule
# is any matching EXCEPTION rule (public suffix = exception minus its
# leftmost label), else the matching rule with the MOST labels, else
# the implicit '*' rule (public suffix = last label).  Registrable
# domain = public suffix + one more label; NULL when the host IS a
# public suffix.
#
# The suffix table is an INJECTED data parameter (the mp3-window
# pattern): PSL_SUBSET below is a small embedded cut of well-known
# entries covering all three rule types for tests and politeness
# grouping; a production crawl passes the full published list.  Two
# execution shapes, same semantics:
#   * registrable_domain_psl — pure scan-side expressions over a
#     literal map (zero Python, zero shuffle).  Literal-map lookup is
#     a linear scan per probe in Catalyst, so this path is for tables
#     up to a few hundred rules.
#   * psl_registrable_domains — the full-list scale path: candidate
#     suffixes explode scan-side (<= max-rule-labels per URL), the
#     rules dimension BROADCASTS, and the longest match folds in one
#     url-keyed hash aggregate (the robots_admit single-Exchange
#     shape) — right for the ~9k-rule published list at crawl scale.

# A cut of the published Public Suffix List (publicsuffix.org — the
# entries themselves are public data).  '!' = exception, '*.' =
# wildcard, as in the published format.
PSL_SUBSET: tuple[str, ...] = (
    "com", "org", "net", "edu", "gov", "io", "us",
    "de", "fr", "it", "nl", "br", "com.br",
    "au", "com.au", "org.au",
    "uk", "co.uk", "org.uk", "ac.uk", "gov.uk",
    "jp", "co.jp", "ne.jp", "or.jp",
    "*.kawasaki.jp", "!city.kawasaki.jp",
    "ck", "*.ck", "!www.ck",
)


def _psl_table(rules) -> tuple[dict[str, int], int]:
    """Parse PSL rule lines -> ({suffix_key: type bitmask}, max key
    labels).  Bitmask: 1 = normal rule, 2 = wildcard rule (key is the
    part after '*.'), 4 = exception rule (key is the part after '!').
    Comment ('//') and blank lines are the published file format."""
    table: dict[str, int] = {}
    maxk = 1
    for raw in rules:
        line = str(raw).strip().lower()
        if not line or line.startswith("//"):
            continue
        if line.startswith("!"):
            key, bit = line[1:], 4
        elif line.startswith("*."):
            key, bit = line[2:], 2
        else:
            key, bit = line, 1
        table[key] = table.get(key, 0) | bit
        maxk = max(maxk, key.count(".") + 1)
    return table, maxk


def _psl_ps_len(labels: Column, n: Column, rules) -> Column:
    """Label count of the prevailing public suffix for a host split
    into `labels` (n = size), per the PSL algorithm, as one scan-side
    expression tree."""
    table, maxk = _psl_table(rules)
    keys = sorted(table)
    mapping = F.map_from_arrays(
        F.lit(keys), F.lit([table[k] for k in keys])
    )
    ks = F.sequence(F.lit(1), F.least(n, F.lit(maxk)))
    hits = F.transform(
        ks,
        lambda k: F.struct(
            k.alias("k"),
            F.coalesce(
                F.element_at(
                    mapping, F.array_join(F.slice(labels, -k, k), ".")
                ),
                F.lit(0),
            ).alias("m"),
        ),
    )
    exc = F.array_max(
        F.transform(
            F.filter(hits, lambda h: h["m"].bitwiseAND(4) != 0),
            lambda h: h["k"] - 1,
        )
    )
    norm = F.array_max(
        F.transform(
            hits,
            lambda h: F.when(h["m"].bitwiseAND(1) != 0, h["k"]).otherwise(
                0
            ),
        )
    )
    wild = F.array_max(
        F.transform(
            hits,
            lambda h: F.when(
                (h["m"].bitwiseAND(2) != 0) & (n >= h["k"] + 1),
                h["k"] + 1,
            ).otherwise(0),
        )
    )
    return F.coalesce(exc, F.greatest(norm, wild, F.lit(1)))


def public_suffix(url: Column, rules=None) -> Column:
    """The host's public suffix under the injected rule table
    (default: the embedded PSL_SUBSET)."""
    labels = F.split(url_host(url), "[.]")
    n = F.size(labels)
    ps = _psl_ps_len(labels, n, PSL_SUBSET if rules is None else rules)
    return F.array_join(F.slice(labels, -ps, ps), ".")


def registrable_domain_psl(url: Column, rules=None) -> Column:
    """Registrable domain (public suffix + one label) under the
    injected rule table; NULL when the host is itself a public suffix.
    This is the PSL-correct replacement for registrable_domain's
    documented last-two-labels approximation — 'foo.co.uk' and
    'bar.co.uk' group separately here."""
    labels = F.split(url_host(url), "[.]")
    n = F.size(labels)
    ps = _psl_ps_len(labels, n, PSL_SUBSET if rules is None else rules)
    return F.when(
        n > ps,
        F.array_join(F.slice(labels, -(ps + 1), ps + 1), "."),
    ).otherwise(F.lit(None).cast("string"))


PSL_RULES_SCHEMA = "suffix string, rule_type int"


def psl_rules_df(spark, rules=None):
    """The injected rule table as a dimension DataFrame for the join
    path: (suffix, rule_type) with 0 = normal, 1 = wildcard base,
    2 = exception."""
    table, _ = _psl_table(PSL_SUBSET if rules is None else rules)
    rows = []
    for key, mask in sorted(table.items()):
        for bit, rtype in ((1, 0), (2, 1), (4, 2)):
            if mask & bit:
                rows.append((key, rtype))
    return spark.createDataFrame(rows, PSL_RULES_SCHEMA)


def psl_registrable_domains(
    urls,
    rules,
    url_col: str = "url",
    url_id_col: str = "url_id",
):
    """Full-list scale path: registrable domain per URL with the rule
    table as a BROADCAST dimension (from psl_rules_df).  Candidate
    suffixes (1..max-labels per host, bounded by the longest rule)
    explode scan-side, match the dimension on an equi-join, and the
    prevailing rule folds in ONE url-keyed hash aggregate carrying the
    URL columns through any_value — the robots_admit single-Exchange
    shape.  Adds `public_suffix` and `reg_domain` columns."""
    host = F.lower(F.trim(urls[url_col]))
    host = F.when(
        host.rlike("^[a-z][a-z0-9+.-]*://"), url_host(urls[url_col])
    ).otherwise(host)
    labels = F.split(host, "[.]")
    n = F.size(labels)
    maxk = F.least(n, F.lit(8))  # longest published rule is 5 labels
    cand = urls.select(
        "*",
        labels.alias("_labels"),
        n.alias("_n"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), maxk),
                lambda k: F.array_join(F.slice(labels, -k, k), "."),
            )
        ).alias("_suffix"),
    )
    joined = cand.join(
        F.broadcast(rules), cand["_suffix"] == rules["suffix"], "left"
    )
    klen = F.size(F.split(F.col("_suffix"), "[.]"))
    exc_cand = F.when(F.col("rule_type") == 2, klen - 1)
    norm_cand = F.when(F.col("rule_type") == 0, klen)
    wild_cand = F.when(
        (F.col("rule_type") == 1) & (F.col("_n") >= klen + 1), klen + 1
    )
    carried = [c for c in urls.columns if c != url_id_col]
    agg = joined.groupBy(urls[url_id_col].alias(url_id_col)).agg(
        *[F.any_value(urls[c]).alias(c) for c in carried],
        F.any_value(F.col("_labels")).alias("_labels"),
        F.any_value(F.col("_n")).alias("_n"),
        F.max(exc_cand).alias("_exc"),
        F.max(norm_cand).alias("_norm"),
        F.max(wild_cand).alias("_wild"),
    )
    ps = F.coalesce(
        F.col("_exc"),
        F.greatest(
            F.coalesce(F.col("_norm"), F.lit(0)),
            F.coalesce(F.col("_wild"), F.lit(0)),
            F.lit(1),
        ),
    )
    return agg.select(
        url_id_col,
        *carried,
        F.array_join(F.slice("_labels", -ps, ps), ".").alias(
            "public_suffix"
        ),
        F.when(
            F.col("_n") > ps,
            F.array_join(F.slice("_labels", -(ps + 1), ps + 1), "."),
        )
        .otherwise(F.lit(None).cast("string"))
        .alias("reg_domain"),
    )


def url_normalize(url: Column) -> Column:
    """Canonical URL for exact-dup grouping: lowercase scheme+host,
    default port dropped / explicit non-default kept, empty path
    -> '/', query params SORTED (the k=v order a crawler emits is not
    identity-relevant), fragment dropped.  Semantic-preserving per RFC
    3986 §6 except the param sort, which is the curation trade
    (grouping recall over strict fidelity) and is what URL dedup
    pipelines do."""
    scheme, host = url_scheme(url), url_host(url)
    explicit = F.regexp_extract(url, URL_RE, 3)
    is_default = F.lit(False)
    for name, port in _DEFAULT_PORTS:
        is_default = is_default | (
            (scheme == name) & (explicit == str(port))
        )
    portpart = F.when(
        (explicit == "") | is_default, F.lit("")
    ).otherwise(F.concat(F.lit(":"), explicit))
    q = url_query(url)
    qnorm = F.when(q == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(q, "&")), "&"))
    )
    return F.concat(
        scheme, F.lit("://"), host, portpart, url_path(url), qnorm
    )
