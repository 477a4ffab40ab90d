"""Text-analysis operators for large-scale training-data pipelines:
quality scoring, token statistics, language-ID scoring, and document
fingerprinting (md5 + SimHash).

Everything compiles to built-in JVM expressions (no Python UDFs): token
arrays via ``split``, per-token hashing via md5-prefix integers, SimHash
bit votes via array-lambda integer sums. Per-row cost is O(tokens ×
simhash_bits) with zero shuffles — embarrassingly parallel at 100 TB.

Expressions are emitted via :mod:`dagster_etl_spark.functions.xdialect`
so the DuckDB oracles run the *identical* computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dagster_etl_spark.functions import xdialect as x
from dagster_etl_spark.plans.cache import pin
from dagster_etl_spark.plans.layout import spread
from dagster_etl_spark.streaming.slicestore import SlicedIndex

# Tiny built-in stopword list (English function words); real deployments
# pass their own.
STOPWORDS = ("the", "a", "an", "of", "and", "or", "to", "in", "is", "on")

LANGS = ("en", "es", "de", "fr", "zh")


def _stopword_pred(var: str) -> str:
    quoted = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"{var} IN ({quoted})"


def doc_stats_exprs(text_col: str, d: str, tok: str | None = None) -> dict[str, str]:
    """Named expressions for token/char/punctuation/stopword statistics
    and a composite quality score. All ratios are double divisions of
    exact integer counts -> engine-identical.

    Pass ``tok`` (a pre-materialized token-array column) to avoid
    re-tokenizing per sub-expression — engines don't reliably CSE the
    inline form.
    """
    tok = tok or x.tokens(text_col, d)
    n_tok = x.xsize(tok, d)
    tok_lens = x.xform(tok, "t", "length(t)", d)
    sum_len = x.xsum_int(tok_lens, d)
    n_stop = x.xsize(x.xfilter(tok, "t", _stopword_pred("t"), d), d)
    n_chars = f"length({text_col})"
    if d == x.SPARK:
        stripped = f"regexp_replace({text_col}, '[a-z0-9 ]', '')"
    else:
        stripped = f"regexp_replace({text_col}, '[a-z0-9 ]', '', 'g')"
    n_punct = f"length({stripped})"  # stripped keeps only non-[a-z0-9 ] chars
    # NULLIF guards: empty documents yield NULL ratios (not a crash under
    # ANSI mode, not a div-by-zero Inf) — identical in DuckDB.
    tok_den = f"NULLIF({n_tok}, 0)"
    chr_den = f"NULLIF({n_chars}, 0)"
    # BPE-ish subword proxy: alnum runs and individual punctuation marks
    # each count as one token (what a byte-level BPE pre-tokenizer splits
    # on); whitespace tokens above are the word-level count
    if d == x.SPARK:
        bpe = f"size(regexp_extract_all(trim(lower({text_col})), '[a-z0-9]+|[^a-z0-9\\\\s]', 0))"
    else:
        bpe = f"len(regexp_extract_all(trim(lower({text_col})), '[a-z0-9]+|[^a-z0-9\\s]'))"
    return {
        "n_tokens": f"CAST({n_tok} AS BIGINT)",
        "n_bpe_tokens": f"CAST({bpe} AS BIGINT)",
        "n_chars": f"CAST({n_chars} AS BIGINT)",
        "avg_token_len": f"CAST({sum_len} AS DOUBLE) / {tok_den}",
        "punct_ratio": f"CAST({n_punct} AS DOUBLE) / {chr_den}",
        "stopword_ratio": f"CAST({n_stop} AS DOUBLE) / {tok_den}",
        "quality_score": (
            f"0.4 * LEAST(1.0, CAST({n_tok} AS DOUBLE) / 100.0)"
            f" + 0.3 * (CAST({n_stop} AS DOUBLE) / {tok_den})"
            f" + 0.3 * (1.0 - CAST({n_punct} AS DOUBLE) / {chr_den})"
        ),
    }


def lang_score_exprs(text_col: str, d: str, tok: str | None = None) -> dict[str, str]:
    """Language-ID by profile-overlap scoring with a deterministic
    argmax. Profiles here are synthetic (token-hash buckets) because the
    driver fixtures share one vocabulary across language labels; swap
    ``_profile_pred`` for real per-language lexicons in production —
    the scoring/argmax machinery is identical."""
    tok = tok or x.tokens(text_col, d)
    exprs: dict[str, str] = {}
    for i, lang in enumerate(LANGS):
        pred = f"({x.h60('t', d)} % 5) = {i}"
        exprs[f"score_{lang}"] = f"CAST({x.xsize(x.xfilter(tok, 't', pred, d), d)} AS BIGINT)"
    # deterministic argmax with fixed precedence order
    cases = []
    for i, lang in enumerate(LANGS):
        others = [f"score_{l2}" for l2 in LANGS if l2 != lang]
        cond = " AND ".join(f"score_{lang} >= {o}" for o in others)
        cases.append(f"WHEN {cond} THEN '{lang}'")
    exprs["predicted_lang"] = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return exprs


def token_hashes_expr(text_col: str, d: str) -> str:
    """Array of per-token 60-bit hashes — compute ONCE and feed
    :func:`simhash_from_hashes_expr`; inlining it per bit would md5
    every token ``bits`` times over."""
    return x.xform(x.tokens(text_col, d), "t", x.h60("t", d), d)


def simhash_from_hashes_expr(ht_col: str, d: str, bits: int = 32) -> str:
    """SimHash over a precomputed token-hash array: per-bit ±1 votes
    summed with exact integer arithmetic, positive votes set the bit."""
    parts = []
    for j in range(bits):
        # Spark's lambda-body parser rejects `>>`; shiftright() is the
        # function form (DuckDB has no shiftright, keeps the operator)
        bit = f"(shiftright(h, {j}) & 1)" if d == x.SPARK else f"((h >> {j}) & 1)"
        vote = x.xsum_int(
            x.xform(ht_col, "h", f"CASE WHEN {bit} = 1 THEN 1 ELSE -1 END", d), d
        )
        parts.append(f"(CASE WHEN {vote} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    return "(" + " + ".join(parts) + ")"


def simhash_expr(text_col: str, d: str, bits: int = 32) -> str:
    """SimHash straight from a text column (use only where the engine
    evaluates the expression once, e.g. inside a CTE)."""
    return simhash_from_hashes_expr(token_hashes_expr(text_col, d), d, bits)


def norm_md5_expr(text_col: str, d: str) -> str:
    norm = f"trim(lower({text_col}))"
    if d == x.SPARK:
        collapsed = f"regexp_replace({norm}, '\\\\s+', ' ')"
    else:
        collapsed = f"regexp_replace({norm}, '\\s+', ' ', 'g')"
    return f"md5({collapsed})"


def fingerprints_oracle_sql(table: str = "documents", bits: int = 32) -> str:
    """DuckDB twin of :func:`fingerprints`: identical two-stage shape
    (token hashes materialized once in a subquery)."""
    return (
        f"SELECT doc_id, {norm_md5_expr('text', x.DUCK)} AS fp_md5,\n"
        f"  {simhash_from_hashes_expr('_ht', x.DUCK, bits)} AS simhash\n"
        f"FROM (SELECT doc_id, text, {token_hashes_expr('text', x.DUCK)} AS _ht FROM {table})"
    )


# -- DataFrame-facing operators ---------------------------------------------
#
# Each output column that uses the token array let-binds it
# (xdialect.let): Catalyst's CollapseProject re-inlines staged token
# columns into every reference, so a staged ``_tok`` projection would
# re-tokenize per access; the lambda argument is materialized once.

def _let_cols(exprs: dict[str, str], text_col: str, var: str) -> list[str]:
    bound = x.tokens(text_col, x.SPARK)
    out = []
    for name, expr in exprs.items():
        if var in expr:
            expr = x.let(bound, var, expr, x.SPARK)
        out.append(f"{expr} AS {name}")
    return out


def doc_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    e = doc_stats_exprs(text_col, x.SPARK, tok="_t")
    return spread(df).selectExpr(id_col, *_let_cols(e, text_col, "_t"))


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    e = lang_score_exprs(text_col, x.SPARK, tok="_t")
    return spread(df).selectExpr(id_col, *_let_cols(e, text_col, "_t"))


def fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """md5 content fingerprint + SimHash; the token-hash array is
    let-bound so it is md5'd once, not once per simhash bit."""
    sim = x.let(
        token_hashes_expr(text_col, x.SPARK),
        "_ht",
        simhash_from_hashes_expr("_ht", x.SPARK, bits),
        x.SPARK,
    )
    return spread(df).selectExpr(
        id_col,
        f"{norm_md5_expr(text_col, x.SPARK)} AS fp_md5",
        f"{sim} AS simhash",
    )


def _bigram_list_expr(tok: str, d: str) -> str:
    """NON-distinct word bigrams (repetition needs multiplicity;
    xdialect.shingles dedups)."""
    n = f"({x.xsize(tok, d)} - 1)"
    if d == x.SPARK:
        body = f"concat_ws(' ', {x.idx_var(tok, 'i', d)}, {x.idx_var(tok, 'i', d, 1)})"
    else:
        body = f"{x.idx_var(tok, 'i', d)} || ' ' || {x.idx_var(tok, 'i', d, 1)}"
    return x.xform(x.zero_range(n, d), "i", body, d)


def gopher_quality_exprs(text_col: str, d: str, tok: str | None = None) -> dict[str, str]:
    """Gopher-style document quality signals: token-count bounds, mean
    word length, and repeated-bigram ratio. Flags use pure integer
    arithmetic (top*5 <= n_bg instead of ratio <= 0.2) so no float
    literal ever crosses an engine boundary. The bigram mode is an
    O(tokens^2) per-row array fold — shuffle-free, right for docs up to
    a few thousand tokens; beyond that, switch to the explode+groupBy
    form (corpus_bigram_counts shows the shape)."""
    t = tok or x.tokens(text_col, d)
    n = x.xsize(t, d)
    sum_len = x.xsum_int(x.xform(t, "w", "length(w)", d), d)
    bg = _bigram_list_expr(t, d)
    top = x.xmax(x.xform("_bg", "b", x.xsize(x.xfilter("_bg", "y", "y = b", d), d), d), d)
    n_bg = x.xsize("_bg", d)
    rep = x.let(
        bg,
        "_bg",
        f"CASE WHEN {n_bg} > 0 THEN CAST({top} AS DOUBLE) / CAST({n_bg} AS DOUBLE) "
        f"ELSE CAST(0 AS DOUBLE) END",
        d,
    )
    keep_rep = x.let(bg, "_bg", f"coalesce({top} * 20 <= {n_bg}, true)", d)
    keep = (
        f"CAST(CASE WHEN {n} >= 30 AND {n} <= 5000 "
        f"AND {sum_len} >= 2 * {n} AND {sum_len} <= 12 * {n} "
        f"AND {keep_rep} THEN 1 ELSE 0 END AS BIGINT)"
    )
    return {
        "n_tokens": f"CAST({n} AS BIGINT)",
        "mean_token_len": (
            f"CASE WHEN {n} > 0 THEN CAST({sum_len} AS DOUBLE) / CAST({n} AS DOUBLE) "
            f"ELSE CAST(0 AS DOUBLE) END"
        ),
        "rep_bigram_ratio": rep,
        "keep": keep,
    }


def gopher_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    e = gopher_quality_exprs(text_col, x.SPARK, tok="_t")
    return spread(df).selectExpr(id_col, *_let_cols(e, text_col, "_t"))


# -- winnowing fingerprints ----------------------------------------------------

def _span(start: str, count: int, d: str) -> str:
    """Integer array [start, start+count) with a variable start."""
    if d == x.SPARK:
        return f"sequence({start}, {start} + {count - 1})"
    return f"range({start}, {start} + {count})"


def winnow_fp_array_expr(text_col: str, d: str, k: int = 8, w: int = 4) -> str:
    """Winnowing document fingerprints (the MOSS scheme, Schleimer/
    Wilkerson/Aiken 2003): hash every char k-gram of the lowercased
    text, slide a w-window over the hash sequence, keep each window's
    MINIMUM hash, dedupe. Guarantees any shared substring of length
    >= k + w - 1 yields a shared fingerprint — position-robust overlap
    detection that content-md5 cannot give.

    Hashes are the md5-prefix 60-bit ints both engines agree on; the
    k-gram hash array is let-bound so each k-gram is md5'd once, not
    once per window. Pure per-row expressions — zero shuffles; the
    exploded (doc_id, fp) rows feed the same banded-join candidate
    pairing as MinHash (dedup.py).
    """
    n_kgrams = f"(length(_s) - {k - 1})"
    hashes = x.xform(
        x.zero_range(n_kgrams, d), "i", x.h60(f"substr(_s, i + 1, {k})", d), d
    )
    n_windows = f"({x.xsize('_hs', d)} - {w - 1})"
    window_min = x.xmin(
        x.xform(_span("j", w, d), "i", x.idx_var("_hs", "i", d), d), d
    )
    fps = x.distinct(x.xform(x.zero_range(n_windows, d), "j", window_min, d), d)
    return x.let(f"lower({text_col})", "_s", x.let(hashes, "_hs", fps, d), d)


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8, w: int = 4
) -> DataFrame:
    """Exploded (id, fp BIGINT) winnowing fingerprints per document."""
    arr = winnow_fp_array_expr(text_col, x.SPARK, k=k, w=w)
    return spread(df).selectExpr(id_col, f"explode({arr}) AS fp")


# -- document chunking ---------------------------------------------------------

def chunk_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into overlapping token windows — the standard
    pretraining chunking pass (context-length packing happens after
    this). Returns (doc_id, chunk_idx, n_chunk_tokens, chunk_text):
    chunk i covers tokens [i*stride, i*stride + window).

    One let-bound expression builds the chunk-struct array per row
    (token array materialized once), then a generator explodes it —
    zero shuffles, embarrassingly parallel, the shape that matters
    when this runs over billions of documents. Empty/whitespace-only
    docs yield no chunks.
    """
    starts = f"CASE WHEN size(_t) > 0 THEN sequence(0, size(_t) - 1, {stride}) ELSE array() END"
    chunk = (
        f"transform({starts}, s -> named_struct("
        f"'n', least({window}, size(_t) - s), "
        f"'txt', concat_ws(' ', slice(_t, s + 1, {window}))))"
    )
    chunks = x.let(x.tokens(text_col, x.SPARK), "_t", chunk, x.SPARK)
    return (
        spread(df)
        .selectExpr(id_col, f"posexplode({chunks}) AS (chunk_idx, ch)")
        .selectExpr(
            id_col,
            "chunk_idx",
            "ch.n AS n_chunk_tokens",
            "ch.txt AS chunk_text",
        )
    )


def chunk_docs_oracle_sql(
    table: str = "documents", window: int = 32, stride: int = 24
) -> str:
    """DuckDB twin of :func:`chunk_docs` (range/list_slice are 1-based
    there; chunk_idx falls out of integer division by the stride)."""
    tok = x.tokens("text", x.DUCK)
    return f"""
WITH tok AS (
  SELECT doc_id, {tok} AS t FROM {table}
), ex AS (
  SELECT doc_id, t,
         unnest(CASE WHEN len(t) > 0 THEN range(0, len(t), {stride}) ELSE [] END) AS s
  FROM tok
)
SELECT doc_id,
       CAST(s // {stride} AS INT) AS chunk_idx,
       least({window}, len(t) - s) AS n_chunk_tokens,
       array_to_string(list_slice(t, s + 1, s + {window}), ' ') AS chunk_text
FROM ex
"""


def pack_chunks(
    chunks: DataFrame,
    seq_len: int = 512,
    buckets: int = 64,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    n_col: str = "n_chunk_tokens",
) -> DataFrame:
    """Greedy sequence packing: assign chunks to fixed-token training
    sequences by running token count within deterministic hash buckets
    — the context-packing step after :func:`chunk_docs`.

    Each bucket is an independent packing stream (``buckets`` ≈ write
    parallelism at scale); within a bucket chunks pack first-fit in
    (doc, chunk) order, so a sequence may overflow ``seq_len`` by at
    most one chunk (the standard greedy approximation — exact bin
    packing is NP-hard and order-dependent). One shuffle (the bucket
    partition), deterministic output on any cluster layout.
    """
    from pyspark.sql.window import Window

    bucket = f"CAST({x.h60(f'CAST({id_col} AS STRING)', x.SPARK)} % {buckets} AS INT)"
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col, idx_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        chunks.selectExpr("*", f"{bucket} AS bucket")
        .withColumn("_cum", F.sum(n_col).over(w))
        .selectExpr(
            "bucket",
            f"(_cum - {n_col}) DIV {seq_len} AS seq_id",
            id_col,
            idx_col,
            n_col,
        )
    )


def pack_chunks_oracle_sql(
    table: str = "documents",
    seq_len: int = 512,
    buckets: int = 64,
    window: int = 32,
    stride: int = 24,
) -> str:
    """DuckDB twin of chunk_docs -> pack_chunks (`//` is DuckDB's
    integer division; Spark's is DIV — exact integer arithmetic on
    both sides, no float rounding in the bucket or sequence ids)."""
    chunks = chunk_docs_oracle_sql(table, window, stride)
    bucket = x.h60("CAST(doc_id AS VARCHAR)", x.DUCK)
    return f"""
WITH chunks AS (
  {chunks}
), b AS (
  SELECT doc_id, chunk_idx, n_chunk_tokens,
         CAST({bucket} % {buckets} AS INT) AS bucket
  FROM chunks
)
SELECT bucket,
       -- DuckDB windowed SUM(BIGINT) yields HUGEINT; fetchdf would then
       -- materialize seq_id as float64/object and the value-hash diverges
       -- from Spark's BIGINT (5 vs 5.0).  Cast restores int64.
       CAST((SUM(n_chunk_tokens) OVER (
          PARTITION BY bucket ORDER BY doc_id, chunk_idx
          ROWS UNBOUNDED PRECEDING) - n_chunk_tokens) // {seq_len}
            AS BIGINT) AS seq_id,
       doc_id, chunk_idx, n_chunk_tokens
FROM b
"""


# -- Count-Min heavy hitters ----------------------------------------------------

CM_WIDTH = 1024
CM_DEPTH = 3


def _cm_bucket(tok_expr: str, row: int, d: str, width: int = CM_WIDTH) -> str:
    """Deterministic Count-Min bucket for hash row ``row``: 60-bit md5
    of 'cm:<row>:' || token, mod width (non-negative, engine-identical)."""
    key = (
        f"concat('cm:{row}:', {tok_expr})"
        if d == x.SPARK
        else f"('cm:{row}:' || {tok_expr})"
    )
    return f"({x.h60(key, d)} % {width})"


def cm_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    width: int = CM_WIDTH,
    depth: int = CM_DEPTH,
) -> DataFrame:
    """Count-Min frequency estimation for the corpus's heavy hitters,
    gated against exact counts IN-QUERY (the approx_distinct_gate
    family). The sketch is what a 100 TB pipeline keeps when the token
    vocabulary doesn't fit anywhere: depth x width integer cells
    (3 x 1024 here = 12 KB), mergeable across partitions/streams by
    cell-wise addition; the estimate for a token is the MIN over its
    depth cells — a structural OVER-count (never under), with
    over-count bounded by colliding mass.

    Hash rows are md5-derived (xdialect.h60), so the DuckDB oracle
    recomputes the sketch bit-for-bit — the gate is exact, not
    statistical. Returns the top-``k`` tokens by exact count:
    ``(token, exact_count, cm_estimate, overcount_ok)`` where
    overcount_ok asserts estimate >= exact (structural) per row, with
    the deterministic (count desc, token) order baked into the rank.

    Scale shape: one explode + ONE (row, bucket) hash aggregate for
    the sketch (3N rows pre-combine, 3 x width rows out — broadcast-
    sized), one token aggregate for the exact side, three broadcast
    joins to read the cells. The sketch side never sees the token
    string after bucketing — 8-byte keys through the exchange. The
    exact-count gate side necessarily materializes the vocabulary
    (that is what makes the gate exact), but the top-k rank is
    pre-trimmed per b0 sketch bucket before the global window, so the
    single-partition sort sees at most width*k rows (20k at the
    defaults) instead of the whole vocabulary — a pure-production
    deployment keeps only the 12 KB cells and drops the gate side
    entirely.
    """
    toks = df.selectExpr(
        f"explode({x.tokens(text_col, x.SPARK)}) AS tok"
    ).filter("tok <> ''")
    # ONE occurrence-level aggregate (token -> count), THEN hash only
    # the distinct vocabulary: a CM cell is the sum of the counts of
    # the tokens hashing into it, so building cells from (token,
    # count) rows is bit-identical to per-occurrence updates while
    # computing depth md5s per DISTINCT token instead of per
    # occurrence — measured 3.9x single-process at x100 (500k docs,
    # ~100M occurrences, 300M md5s) before this re-shape
    exact = pin(
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .selectExpr(
            "tok",
            "exact_count",
            *[
                f"{_cm_bucket('tok', r, x.SPARK, width)} AS b{r}"
                for r in range(depth)
            ],
        )
    )
    cells = " , ".join(
        f"named_struct('r', {r}, 'b', b{r})" for r in range(depth)
    )
    sketch = (
        exact.selectExpr(
            "exact_count", f"explode(array({cells})) AS c"
        )
        .selectExpr("c.r AS r", "c.b AS b", "exact_count")
        .groupBy("r", "b")
        .agg(F.sum("exact_count").cast("long").alias("cell"))
    )
    est = exact
    for r in range(depth):
        cell_r = F.broadcast(
            sketch.filter(F.col("r") == r).select(
                F.col("b").alias(f"b{r}"), F.col("cell").alias(f"c{r}")
            )
        )
        est = est.join(cell_r, on=f"b{r}")
    mins = "least(" + ", ".join(f"c{r}" for r in range(depth)) + ")"
    from pyspark.sql.window import Window

    # r13 ADVICE: an unpartitioned row_number over the whole distinct
    # vocabulary is a single-partition WindowExec — the scaling cliff.
    # Every global top-k token is top-k WITHIN its b0 sketch bucket
    # (<= k-1 tokens beat it globally, so <= k-1 in its bucket), so a
    # per-bucket local rank (hash exchange on the 8-byte b0 key,
    # distributed sort) pre-trims the global window's input from
    # |vocabulary| rows to at most width*k.
    scored = est.selectExpr(
        "tok AS token",
        "exact_count",
        f"CAST({mins} AS BIGINT) AS cm_estimate",
        f"{mins} >= exact_count AS overcount_ok",
        "b0",
    )
    local = Window.partitionBy("b0").orderBy(
        F.col("exact_count").desc(), F.col("token")
    )
    trimmed = (
        scored.withColumn("_lr", F.row_number().over(local))
        .filter(F.col("_lr") <= k)
        .drop("_lr", "b0")
    )
    ranked = trimmed.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("exact_count").desc(), F.col("token"))
        ),
    )
    return ranked.filter(F.col("rank") <= k)


def cm_heavy_hitters_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    k: int = 20,
    width: int = CM_WIDTH,
    depth: int = CM_DEPTH,
) -> str:
    """DuckDB mirror of :func:`cm_heavy_hitters` — recomputes the
    sketch cells, estimates, and the top-k rank identically."""
    bucket_cols = ",\n         ".join(
        f"{_cm_bucket('tok', r, x.DUCK, width)} AS b{r}" for r in range(depth)
    )
    cell_rows = "\n  UNION ALL\n".join(
        f"  SELECT {r} AS r, b{r} AS b FROM toks" for r in range(depth)
    )
    joins = "\n".join(
        f"JOIN cells c{r} ON c{r}.r = {r} AND c{r}.b = e.b{r}"
        for r in range(depth)
    )
    mins = "LEAST(" + ", ".join(f"c{r}.cell" for r in range(depth)) + ")"
    return f"""
WITH toks AS (
  SELECT tok,
         {bucket_cols}
  FROM (SELECT UNNEST({x.tokens(text_col, x.DUCK)}) AS tok FROM {table})
  WHERE tok <> ''
), cellrows AS (
{cell_rows}
), cells AS (
  SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cell FROM cellrows GROUP BY r, b
), exact AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count,
         {", ".join(f"MIN(b{r}) AS b{r}" for r in range(depth))}
  FROM toks GROUP BY tok
), est AS (
  SELECT e.tok AS token, e.exact_count,
         CAST({mins} AS BIGINT) AS cm_estimate,
         {mins} >= e.exact_count AS overcount_ok
  FROM exact e
  {joins}
), ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
    ORDER BY exact_count DESC, token) AS INT) AS rank
  FROM est
)
SELECT token, exact_count, cm_estimate, overcount_ok, rank
FROM ranked WHERE rank <= {k}
"""


# -- BM25 ranked retrieval ----------------------------------------------------

# Fixed-point BM25 parameters as exact rationals: k1 = 6/5 (1.2) and
# b = 3/4 (0.75), the Robertson defaults. With avgdl floored to an
# integer the per-term saturation becomes one exact integer ratio:
#   tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
#     = 44*avgdl*tf / (20*avgdl*tf + 6*avgdl + 18*dl)
# and the half-shifted Robertson idf (N - df + 0.5)/(df + 0.5) is the
# exact ratio (2N - 2df + 1)/(2df + 1). Scores are accumulated as
# BIGINT fixed-point (contrib = SCALE*num DIV den) so the cross-term
# SUM is order-independent — a double sum would make the result depend
# on Spark's partial-aggregation order.
BM25_SCALE = 1_000_000


def bm25_topk_docs(
    df: DataFrame,
    k: int = 10,
    seed_mod: int = 97,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = BM25_SCALE,
    q_id_cap: int | None = None,
) -> DataFrame:
    """BM25-ranked more-like-this retrieval: every document whose
    ``id_col % seed_mod == 0`` becomes a query (its distinct token set
    is the query term set), and the corpus is ranked against each
    query by fixed-point BM25 (k1=1.2, b=0.75, floored integer avgdl,
    Robertson half-shifted idf — see BM25_SCALE above). This is the
    lexical scorer every curation stack pairs with the ANN layer; the
    fixed-point form makes it exactly DuckDB-oracle-checkable (the
    repo's integer-exact style: every division is either an integer
    DIV or the single terminal CAST-to-double by ``scale``).

    Scale shape: tokens leave the scan as (doc_id, dl, term) rows; tf
    carries dl through its own aggregate so document length never
    needs a separate join; df is a hash aggregate on the term; N and
    total token count ride one broadcast 1-row frame (the
    zero-build-job pattern); the query side is an equi-JOIN on the
    term key — never a broadcast of anything corpus-sized — and the
    only remaining exchanges are the (query, doc) score aggregate and
    the per-query top-k window. Docs sharing no term with a query are
    never scored (the join is the inverted index).

    BIGINT headroom: contrib's numerator is scale*44*avgdl*tf*(2N+1)
    ~ 1.3e15 at sf0.1 — five orders under the 9.2e18 BIGINT ceiling.
    At a 1e11-doc corpus the same expression needs scale dropped to
    1e3 or DECIMAL(38,0) accumulation; the quantization grain is the
    ``scale`` parameter for exactly that reason.

    Returns (query_id, doc_id, score_scaled, score, rank), rank <= k,
    deterministic (score_scaled desc, doc_id) tiebreak on the EXACT
    integer score, never the double.
    """
    from pyspark.sql.window import Window

    g = df.selectExpr(
        id_col, f"{x.tokens(text_col, x.SPARK)} AS _t"
    ).selectExpr(id_col, f"CAST({x.xsize('_t', x.SPARK)} AS BIGINT) AS dl", "_t")
    ex = pin(
        g.select(id_col, "dl", F.explode("_t").alias("term"))
    )
    tf = ex.groupBy(id_col, "dl", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfq = ex.groupBy("term").agg(
        F.countDistinct(id_col).cast("long").alias("df")
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )
    # q_id_cap bounds the QUERY set independently of corpus size
    # (ids % seed_mod == 0 AND id < q_id_cap => at most
    # ceil(q_id_cap / seed_mod) queries at any scale) — the knob the
    # hybrid retriever's brute-force leg uses to stay linear.
    q_pred = F.col(id_col) % seed_mod == 0
    if q_id_cap is not None:
        q_pred = q_pred & (F.col(id_col) < q_id_cap)
    qt = (
        ex.filter(q_pred)
        .select(F.col(id_col).alias("query_id"), "term")
        .distinct()
    )
    avgdl = "(total_tokens DIV n_docs)"
    num = f"(CAST({scale} AS BIGINT) * 44 * {avgdl} * tf * (2*n_docs - 2*df + 1))"
    den = f"((2*df + 1) * (20*{avgdl}*tf + 6*{avgdl} + 18*dl))"
    # SHUFFLE_HASH pins: dfq is vocabulary-sized — at fixture x10 it
    # sits exactly at the AQE broadcast threshold and the plan
    # flip-flopped run-to-run between broadcast (fast) and sort-merge
    # (4-5x slower: measured 4.5-29 s bimodal at x10, 5.3-6.3 s stable
    # hinted); at 100 TB it must never broadcast, and SHUFFLE_HASH
    # also skips the SMJ's corpus-sized sort. Same reasoning for qt
    # (the query term set grows with the corpus under id % seed_mod).
    scored = (
        tf.join(dfq.hint("shuffle_hash"), on="term")
        .join(qt.hint("shuffle_hash"), on="term")
        .filter(F.col("query_id") != F.col(id_col))
        .crossJoin(F.broadcast(tot))
        .selectExpr("query_id", id_col, f"{num} DIV {den} AS contrib")
    )
    agg = scored.groupBy("query_id", id_col).agg(
        F.sum("contrib").cast("long").alias("score_scaled")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_scaled").desc(), F.col(id_col)
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .selectExpr(
            "query_id",
            id_col,
            "score_scaled",
            f"CAST(score_scaled AS DOUBLE) / CAST({scale} AS DOUBLE) AS score",
            "rank",
        )
    )


def bm25_topk_docs_oracle_sql(
    table: str = "documents",
    k: int = 10,
    seed_mod: int = 97,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = BM25_SCALE,
    q_id_cap: int | None = None,
) -> str:
    """DuckDB mirror of :func:`bm25_topk_docs` — same floored avgdl,
    same fixed-point contribs (DuckDB ``//`` = Spark ``DIV`` on
    non-negative BIGINTs), same exact-integer tiebreak."""
    d = x.DUCK
    avgdl = "(tot.total_tokens // tot.n_docs)"
    num = f"(CAST({scale} AS BIGINT) * 44 * {avgdl} * tf.tf * (2*tot.n_docs - 2*dfq.df + 1))"
    den = f"((2*dfq.df + 1) * (20*{avgdl}*tf.tf + 6*{avgdl} + 18*tf.dl))"
    return f"""
WITH g AS (
  SELECT {id_col}, {x.tokens(text_col, d)} AS _t FROM {table}
), gg AS (
  SELECT {id_col}, CAST({x.xsize('_t', d)} AS BIGINT) AS dl, _t FROM g
), ex AS (
  SELECT {id_col}, dl, UNNEST(_t) AS term FROM gg
), tf AS (
  SELECT {id_col}, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ex GROUP BY 1, 2, 3
), dfq AS (
  SELECT term, CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS df
  FROM ex GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_tokens
  FROM gg
), qt AS (
  SELECT DISTINCT {id_col} AS query_id, term FROM ex
  WHERE {id_col} % {seed_mod} = 0{f" AND {id_col} < {q_id_cap}" if q_id_cap is not None else ""}
), scored AS (
  SELECT qt.query_id, tf.{id_col},
         {num} // {den} AS contrib
  FROM tf JOIN dfq USING (term) JOIN qt USING (term) CROSS JOIN tot
  WHERE qt.query_id <> tf.{id_col}
), agg AS (
  SELECT query_id, {id_col},
         CAST(SUM(contrib) AS BIGINT) AS score_scaled
  FROM scored GROUP BY 1, 2
), ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score_scaled DESC, {id_col}) AS INT) AS rank
  FROM agg
)
SELECT query_id, {id_col}, score_scaled,
       CAST(score_scaled AS DOUBLE) / CAST({scale} AS DOUBLE) AS score,
       rank
FROM ranked WHERE rank <= {k}
"""


class IncrementalBM25Index(SlicedIndex):
    """Daily-cadence BM25 — the retrieval analog of
    IncrementalNearDupIndex and the fifth incremental surface (next to
    BucketedPipeline, near-dup, ANN, IVF-PQ): a production search
    corpus grows by a slice per day, and the inverted index must
    absorb a slice in O(slice) — never re-tokenize the corpus.

    State = three catalog tables:

    * ``{name}_bm25_postings`` (term, doc_id, dl, tf) — the inverted
      index, BUCKETED BY term: the query-time probe join's equi-key
      equals the bucket column, so only the (tiny) query term set ever
      shuffles and the posting lists read co-located;
    * ``{name}_bm25_df`` (term, df) bucketed by term — per-slice
      partial document frequencies. Additive across slices because
      daily doc ids are disjoint; query time sums the partials with a
      co-located aggregate (no exchange on the corpus side);
    * ``{name}_bm25_totals`` (n_docs, total_tokens) — one row appended
      per slice; query time sums them into the global (N, avgdl).

    Exactness invariant (property-tested): because tf, df, and the
    totals are all ADDITIVE over disjoint slices and the fixed-point
    quantization happens at query time from the summed state,
    ``topk`` after ingesting B1..Bn equals :func:`bm25_topk_docs`
    over B1 ∪ .. ∪ Bn EXACTLY — integer-for-integer, not
    approximately. The registered query's oracle is therefore the
    one-shot oracle, unchanged.
    """

    def __init__(
        self,
        spark,
        name: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_buckets: int = 8,
        scale: int = BM25_SCALE,
    ) -> None:
        self.spark = spark
        self.postings_table = f"{name}_bm25_postings"
        self.df_table = f"{name}_bm25_df"
        self.totals_table = f"{name}_bm25_totals"
        self.text_col = text_col
        self.id_col = id_col
        self.num_buckets = num_buckets
        self.scale = scale
        self.components = (
            ("postings", self.postings_table, ["term"]),
            ("df", self.df_table, ["term"]),
            ("totals", self.totals_table, None),
        )

    def _encode(self, docs: DataFrame) -> dict[str, DataFrame]:
        """{postings, df, totals} for one slice — one tokenize pass, same
        expressions as the one-shot operator."""
        g = docs.selectExpr(
            self.id_col, f"{x.tokens(self.text_col, x.SPARK)} AS _t"
        ).selectExpr(
            self.id_col, f"CAST({x.xsize('_t', x.SPARK)} AS BIGINT) AS dl", "_t"
        )
        g = pin(g)
        ex = g.select(self.id_col, "dl", F.explode("_t").alias("term"))
        postings = ex.groupBy("term", self.id_col, "dl").agg(
            F.count(F.lit(1)).cast("long").alias("tf")
        )
        partial_df = ex.groupBy("term").agg(
            F.countDistinct(self.id_col).cast("long").alias("df")
        )
        totals = g.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_tokens"),
        )
        return {"postings": postings, "df": partial_df, "totals": totals}

    def _stage_slice(self, docs, slice_id, stage) -> None:
        """Precondition, enforced before anything is staged: ``doc_id``
        is unique within the slice. The staged df below counts postings
        rows per term, which equals the number of distinct documents
        only when no doc_id repeats (zero-token documents have no
        postings and are fine)."""
        n_ids, n_distinct = docs.agg(
            F.count(self.id_col), F.countDistinct(self.id_col)
        ).first()
        if n_ids != n_distinct:
            raise ValueError(
                f"IncrementalBM25Index.ingest_slice: slice {slice_id} repeats "
                f"{self.id_col} ({n_ids} ids, {n_distinct} distinct)"
            )
        # no explicit file budget here: all three components are
        # aggregate outputs, whose trailing shuffle AQE already
        # coalesces to slice-sized files (measured: 1 part-file as-is;
        # a repartition would only add a shuffle). The budget is for
        # spread()-wide scan-local chains — see slice_file_budget.
        enc = self._encode(docs)
        stage("postings", enc["postings"])
        # derive df from the STAGED postings slice instead of a second
        # explode+aggregate over the token arrays (r19, guide §1.2):
        # (term, doc_id) is unique in postings (it is the aggregate's
        # group key, dl functional on doc_id, doc_id unique per slice),
        # so COUNT(*) per term over the staged file equals the encode's
        # countDistinct value-for-value. Replay-identical: a replay
        # rewrites the same deterministic postings and re-derives the
        # same df.
        staged = self._staged(docs.sparkSession, "postings", slice_id)
        partial_df = staged.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        )
        stage("df", partial_df)
        stage("totals", enc["totals"])

    def ingest(self, docs: DataFrame) -> None:
        """Absorb one day's slice: append its postings, partial dfs,
        and totals row. O(slice) — the corpus tables are append-only
        and never rewritten (compact() collapses small files)."""
        self._write_base(self._encode(docs), reset=True)

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        push_terms: int | None = 20_000,
        isin_terms: int = 256,
    ) -> DataFrame:
        """Fixed-point BM25 top-k against the standing index.
        ``queries`` = (id_col, text_col); each query's distinct token
        set scores the accumulated corpus — identical arithmetic to
        :func:`bm25_topk_docs` with (N, total_tokens, df) read from
        the summed standing state. The probe join shuffles only the
        query term set; postings and partial dfs read co-located on
        their term bucketing.

        TERM PUSHDOWN (r15 — what makes the probe BOUNDED instead of
        corpus-linear): without it, the probe join must SCAN the whole
        postings table even though only query-term rows survive — the
        r15 30-day soak's first run measured exactly that, probe time
        growing 1:1 with the corpus. When the query batch's distinct
        term count is <= ``push_terms`` (collected via a LIMIT-capped
        bounded job — the query batch is bounded by the same contract
        as every ANN probe), the term set is pushed into BOTH corpus
        scans. Two mechanisms by size (r15 ADVICE — a 20k-literal
        isin() bloats plan strings/codegen and degrades parquet IN
        pushdown): up to ``isin_terms`` the set goes in as an IN
        literal (parquet row-group stats skip + bucket pruning at the
        scan itself); between that and ``push_terms`` (default 20k —
        the broadcast semi-join branch has no plan-string problem, so
        ``isin_terms`` is the only literal-IN cutoff; r16 ADVICE
        restored the 2k–20k window a too-cautious default had silently
        demoted to a full corpus scan) it becomes a
        broadcast LEFT SEMI join on the term set — no giant plan
        string, rows drop at the first post-scan stage with zero
        corpus-side shuffle. Semantics-preserving by construction
        either way (the probe join on the query term set discards
        every filtered row anyway); ``push_terms=None`` disables (and
        any batch over the cap falls back to the full-scan plan
        rather than erroring — the collect is bounded at
        ``push_terms + 1`` rows).
        """
        from pyspark.sql.window import Window

        spark = queries.sparkSession
        postings, raw_df, totals_state = self._state(
            "postings", "df", "totals", spark=spark
        )
        qt = (
            queries.selectExpr(
                f"{self.id_col} AS query_id",
                f"explode({x.tokens(self.text_col, x.SPARK)}) AS term",
            )
            .distinct()
        )
        if push_terms is not None:
            terms = [
                r.term
                for r in qt.select("term")
                .distinct()
                .limit(push_terms + 1)
                .collect()
            ]
            if len(terms) <= isin_terms:
                postings = postings.filter(F.col("term").isin(terms))
                raw_df = raw_df.filter(F.col("term").isin(terms))
            elif len(terms) <= push_terms:
                term_set = F.broadcast(
                    spark.createDataFrame(
                        [(t,) for t in terms], "term STRING"
                    )
                )
                postings = postings.join(term_set, on="term", how="left_semi")
                raw_df = raw_df.join(term_set, on="term", how="left_semi")
        dfq = raw_df.groupBy("term").agg(
            F.sum("df").cast("long").alias("df")
        )
        tot = totals_state.agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_tokens").cast("long").alias("total_tokens"),
        )
        avgdl = "(total_tokens DIV n_docs)"
        num = (
            f"(CAST({self.scale} AS BIGINT) * 44 * {avgdl} * tf * "
            f"(2*n_docs - 2*df + 1))"
        )
        den = f"((2*df + 1) * (20*{avgdl}*tf + 6*{avgdl} + 18*dl))"
        # same SHUFFLE_HASH pins as the one-shot operator: the summed
        # dfq is vocabulary-sized (broadcast-threshold flip-flop at
        # fixture scale, never broadcastable at 100 TB)
        scored = (
            postings.join(dfq.hint("shuffle_hash"), on="term")
            .join(qt.hint("shuffle_hash"), on="term")
            .filter(F.col("query_id") != F.col(self.id_col))
            .crossJoin(F.broadcast(tot))
            .selectExpr("query_id", self.id_col, f"{num} DIV {den} AS contrib")
        )
        agg = scored.groupBy("query_id", self.id_col).agg(
            F.sum("contrib").cast("long").alias("score_scaled")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score_scaled").desc(), F.col(self.id_col)
        )
        return (
            agg.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .selectExpr(
                "query_id",
                self.id_col,
                "score_scaled",
                f"CAST(score_scaled AS DOUBLE) / CAST({self.scale} AS DOUBLE)"
                " AS score",
                "rank",
            )
        )


# -- CCNet-style unigram-LM perplexity buckets --------------------------------

SURPRISAL_SCALE = 1_000_000


def ccnet_surprisal_buckets(
    df: DataFrame,
    scale: int = SURPRISAL_SCALE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-shape perplexity bucketing (Wenzek et al. 2019,
    arXiv:1911.00359): score every document by its mean per-token
    surprisal under the corpus's own unigram LM, then split the corpus
    into head / middle / tail quality buckets at the tercile
    thresholds — the standard first quality gate in a crawl-curation
    stack (head = fluent/common, tail = rare/gibberish).

    Integer-exact twist (the repo's determinism contract): token
    surprisal is the EXACT ``floor(log2(N / count(t)))`` via
    :func:`xdialect.floor_log2_ratio` — no float ``ln`` whose last-ulp
    engine differences a floor would amplify. Per-doc score is the
    fixed-point mean ``(scale * Σ_occurrences qsurp) DIV dl``. A real
    deployment would use a double log2 (the quantization grain is one
    bit); the quantized form is the oracle-checkable twin, same
    precedent as the BM25 fixed-point scorer above.

    Bucketing is THRESHOLD semantics, not NTILE: tercile cutpoints are
    computed from a cumulative histogram of the integer scores, so no
    corpus-sized single-partition sort ever happens. The histogram's
    group-by key is the quantized score (distinct values ≪ corpus in
    practice; worst case one per distinct (Σqsurp, dl) pair, and the
    grain is tunable via ``scale``), the cumulative window runs over
    that aggregated frame only, and the two cutpoints ride a 1-row
    broadcast back onto the corpus. Docs at a cutpoint share a bucket
    (CCNet also thresholds on perplexity values, not rank).

    Empty docs (0 tokens) have no surprisal and are excluded (both
    engines).

    Returns (doc_id, dl, surprisal_scaled, surprisal, bucket) with
    bucket ∈ {'head','middle','tail'}.
    """
    from pyspark.sql.window import Window

    s = x.SPARK
    g = df.selectExpr(id_col, f"{x.tokens(text_col, s)} AS _t").selectExpr(
        id_col, f"CAST({x.xsize('_t', s)} AS BIGINT) AS dl", "_t"
    ).filter("dl > 0")
    ex = pin(g.select(id_col, "dl", F.explode("_t").alias("term")))
    tf = ex.groupBy(id_col, "dl", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    ct = ex.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    tot = g.agg(
        F.sum("dl").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    qsurp = x.floor_log2_ratio("n_total", "ct", s)
    # pinned: BOTH the histogram (threshold) branch and the final
    # bucket-assignment branch consume the per-doc scores — without the
    # pin the whole tokenize+aggregate subtree executes twice
    docsc = pin(
        tf.join(ct, on="term")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col, "dl", "n_docs")
        .agg(F.sum(F.expr(f"tf * CAST({qsurp} AS BIGINT)")).alias("_sq"))
        .selectExpr(
            id_col,
            "dl",
            "n_docs",
            f"(CAST({scale} AS BIGINT) * _sq) DIV dl AS surprisal_scaled",
        )
    )
    hist = docsc.groupBy("surprisal_scaled", "n_docs").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cw = (
        Window.orderBy("surprisal_scaled")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    thr = (
        hist.withColumn("cum", F.sum("cnt").over(cw))
        .agg(
            F.min(
                F.when(F.col("cum") * 3 >= F.col("n_docs"), F.col("surprisal_scaled"))
            ).alias("t1"),
            F.min(
                F.when(
                    F.col("cum") * 3 >= 2 * F.col("n_docs"), F.col("surprisal_scaled")
                )
            ).alias("t2"),
        )
    )
    return (
        docsc.crossJoin(F.broadcast(thr))
        .selectExpr(
            id_col,
            "dl",
            "surprisal_scaled",
            f"CAST(surprisal_scaled AS DOUBLE) / CAST({scale} AS DOUBLE) AS surprisal",
            "CASE WHEN surprisal_scaled <= t1 THEN 'head' "
            "WHEN surprisal_scaled <= t2 THEN 'middle' ELSE 'tail' END AS bucket",
        )
    )


def ccnet_surprisal_buckets_oracle_sql(
    table: str = "documents",
    scale: int = SURPRISAL_SCALE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`ccnet_surprisal_buckets` — same exact
    integer surprisal, same cumulative-histogram tercile cutpoints."""
    d = x.DUCK
    qsurp = x.floor_log2_ratio("tot.n_total", "ct.ct", d)
    return f"""
WITH g AS (
  SELECT {id_col}, {x.tokens(text_col, d)} AS _t FROM {table}
), gg AS (
  SELECT {id_col}, CAST({x.xsize('_t', d)} AS BIGINT) AS dl, _t FROM g
  WHERE {x.xsize('_t', d)} > 0
), ex AS (
  SELECT {id_col}, dl, UNNEST(_t) AS term FROM gg
), tf AS (
  SELECT {id_col}, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ex GROUP BY 1, 2, 3
), ct AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS ct FROM ex GROUP BY 1
), tot AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM gg
), docsc AS (
  SELECT tf.{id_col}, tf.dl, tot.n_docs,
         CAST((CAST({scale} AS BIGINT)
               * CAST(SUM(tf.tf * CAST({qsurp} AS BIGINT)) AS BIGINT))
           // tf.dl AS BIGINT) AS surprisal_scaled
  FROM tf JOIN ct USING (term) CROSS JOIN tot
  GROUP BY 1, 2, 3
), hist AS (
  SELECT surprisal_scaled, n_docs, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM docsc GROUP BY 1, 2
), cum AS (
  SELECT surprisal_scaled, n_docs,
         SUM(cnt) OVER (ORDER BY surprisal_scaled
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
), thr AS (
  SELECT MIN(CASE WHEN cum * 3 >= n_docs THEN surprisal_scaled END) AS t1,
         MIN(CASE WHEN cum * 3 >= 2 * n_docs THEN surprisal_scaled END) AS t2
  FROM cum
)
SELECT d.{id_col}, d.dl, d.surprisal_scaled,
       CAST(d.surprisal_scaled AS DOUBLE) / CAST({scale} AS DOUBLE) AS surprisal,
       CASE WHEN d.surprisal_scaled <= thr.t1 THEN 'head'
            WHEN d.surprisal_scaled <= thr.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM docsc d CROSS JOIN thr
"""


# -- DSIR: data selection via importance resampling ---------------------------

DSIR_BUCKETS = 4096


def dsir_select(
    df: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    k: int = 25,
    target_lang: str = "en",
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): score
    every candidate document by its hashed-n-gram importance weight
    ``Σ_features log(p_target(f) / p_raw(f))`` against a target
    distribution, then keep the top-k — the standard
    pretraining-data-selection recipe when you have a small quality
    corpus (here: the ``target_lang`` slice) and a large raw pool
    (here: every other document).

    Features are word bigrams hashed into ``n_buckets`` buckets
    (md5-based :func:`xdialect.h60` mod B — engine-identical), with
    add-one smoothing on both distributions exactly as in the paper's
    bag-of-hashed-ngrams generative model. The log-ratio is the EXACT
    integer ``floor(log2)`` of the cross-multiplied rational
    ``(ct_f+1)(R+B) / (cr_f+1)(T+B)`` (:func:`xdialect.
    floor_log2_ratio`), occurrence-weighted per doc — 1-bit grain, no
    float log (same determinism contract as the surprisal buckets).

    Selection is THRESHOLD semantics via the same cumulative-histogram
    trick as :func:`ccnet_surprisal_buckets` — no corpus-wide
    single-partition top-k window: t_k = the k-th largest weight
    (counting multiplicity), and every doc with weight ≥ t_k is kept
    (ties at the cut all survive, so ≥ k rows can return — documented,
    deterministic).

    BIGINT headroom: the cross-multiplied numerator is bounded by
    (T+1)(R+B) ≈ 6.6e11 at sf0.1 — room up to ~3e9 feature
    occurrences per side before DECIMAL(38,0) is needed.

    Returns the selected candidates (doc_id, lang, n_features,
    weight_q) — weight_q is the integer importance weight.
    """
    from pyspark.sql.window import Window

    s = x.SPARK
    tok = x.tokens(text_col, s)
    # let-bind the token array: the bigram expr references it 2+2n
    # times and CollapseProject would re-tokenize per reference
    bg = x.let(tok, "_t", _bigram_list_expr("_t", s), s)
    g = df.selectExpr(id_col, lang_col, f"{bg} AS _bg")
    ex = pin(
        g.select(
            id_col,
            lang_col,
            F.explode("_bg").alias("_f"),
        ).selectExpr(
            id_col,
            lang_col,
            f"pmod({x.h60('_f', s)}, {n_buckets}) AS fb",
        )
    )
    is_target = F.col(lang_col) == target_lang
    ct = ex.filter(is_target).groupBy("fb").agg(
        F.count(F.lit(1)).cast("long").alias("ct")
    )
    cr = ex.filter(~is_target).groupBy("fb").agg(
        F.count(F.lit(1)).cast("long").alias("cr")
    )
    tot = (
        ex.agg(
            F.sum(F.when(is_target, 1).otherwise(0)).cast("long").alias("t_tot"),
            F.sum(F.when(is_target, 0).otherwise(1)).cast("long").alias("r_tot"),
        )
    )
    qlog = x.floor_log2_ratio(
        f"(COALESCE(ct, 0) + 1) * (r_tot + {n_buckets})",
        f"(cr + 1) * (t_tot + {n_buckets})",
        s,
    )
    # pinned: the threshold histogram and the final selection filter
    # both consume the per-candidate weights (same contract as docsc in
    # ccnet_surprisal_buckets)
    cand = pin(
        ex.filter(~is_target)
        .groupBy(id_col, lang_col, "fb")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .join(cr, on="fb")
        .join(ct, on="fb", how="left")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col, lang_col)
        .agg(
            F.sum("tf").alias("n_features"),
            F.sum(F.expr(f"tf * CAST({qlog} AS BIGINT)")).alias("weight_q"),
        )
    )
    hist = cand.groupBy("weight_q").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cw = (
        Window.orderBy(F.col("weight_q").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    thr = (
        hist.withColumn("cum", F.sum("cnt").over(cw))
        .agg(F.max(F.when(F.col("cum") >= k, F.col("weight_q"))).alias("t_k"))
    )
    return (
        cand.crossJoin(F.broadcast(thr))
        .filter(F.col("weight_q") >= F.coalesce(F.col("t_k"), F.lit(-(1 << 62))))
        .select(id_col, lang_col, "n_features", "weight_q")
    )


def dsir_select_oracle_sql(
    table: str = "documents",
    n_buckets: int = DSIR_BUCKETS,
    k: int = 25,
    target_lang: str = "en",
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> str:
    """DuckDB mirror of :func:`dsir_select` — same hashed buckets, same
    exact floor-log2 importance ratios, same k-th-largest threshold."""
    d = x.DUCK
    tok = x.tokens(text_col, d)
    bg = x.let(tok, "_t", _bigram_list_expr("_t", d), d)
    qlog = x.floor_log2_ratio(
        f"(COALESCE(ct.ct, 0) + 1) * (tot.r_tot + {n_buckets})",
        f"(cr.cr + 1) * (tot.t_tot + {n_buckets})",
        d,
    )
    return f"""
WITH g AS (
  SELECT {id_col}, {lang_col}, {bg} AS _bg FROM {table}
), ex AS (
  SELECT {id_col}, {lang_col},
         (({x.h60('f', d)}) % {n_buckets}) AS fb
  FROM (SELECT {id_col}, {lang_col}, UNNEST(_bg) AS f FROM g)
), ct AS (
  SELECT fb, CAST(COUNT(*) AS BIGINT) AS ct FROM ex
  WHERE {lang_col} = '{target_lang}' GROUP BY 1
), cr AS (
  SELECT fb, CAST(COUNT(*) AS BIGINT) AS cr FROM ex
  WHERE {lang_col} <> '{target_lang}' GROUP BY 1
), tot AS (
  SELECT CAST(SUM(CASE WHEN {lang_col} = '{target_lang}' THEN 1 ELSE 0 END) AS BIGINT) AS t_tot,
         CAST(SUM(CASE WHEN {lang_col} <> '{target_lang}' THEN 1 ELSE 0 END) AS BIGINT) AS r_tot
  FROM ex
), tfq AS (
  SELECT {id_col}, {lang_col}, fb, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ex WHERE {lang_col} <> '{target_lang}' GROUP BY 1, 2, 3
), cand AS (
  SELECT tfq.{id_col}, tfq.{lang_col},
         CAST(SUM(tfq.tf) AS BIGINT) AS n_features,
         CAST(SUM(tfq.tf * CAST({qlog} AS BIGINT)) AS BIGINT) AS weight_q
  FROM tfq JOIN cr USING (fb) LEFT JOIN ct USING (fb) CROSS JOIN tot
  GROUP BY 1, 2
), hist AS (
  SELECT weight_q, CAST(COUNT(*) AS BIGINT) AS cnt FROM cand GROUP BY 1
), cum AS (
  SELECT weight_q,
         SUM(cnt) OVER (ORDER BY weight_q DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
), thr AS (
  SELECT MAX(CASE WHEN cum >= {k} THEN weight_q END) AS t_k FROM cum
)
SELECT c.{id_col}, c.{lang_col}, c.n_features, c.weight_q
FROM cand c CROSS JOIN thr
WHERE c.weight_q >= COALESCE(thr.t_k, -4611686018427387904)
"""


# -- Corpus drift: per-slice total-variation distance --------------------------

TV_SCALE = 100_000


def corpus_drift_tv(
    df: DataFrame,
    scale: int = TV_SCALE,
    text_col: str = "text",
    slice_col: str = "lang",
) -> DataFrame:
    """Distribution-shift telemetry: the total-variation distance
    between each slice's unigram token distribution and the whole
    corpus's — ``TV(p_l, p) = ½ Σ_t |p_l(t) - p(t)|`` in [0, 1].
    This is the drift monitor a recurring-crawl pipeline runs per
    snapshot/source/language to catch a feed going off-distribution
    before it poisons the training mix (TV rather than KL/chi² because
    it is LINEAR in the counts — exact in BIGINT fixed-point, no log,
    no square that would overflow at corpus scale).

    Exactness: per present (slice, term) pair the signed integer
    ``d = cl_t·N − c_t·N_l`` is formed from exact counts; terms ABSENT
    from the slice contribute ``Σ_absent c_t·N_l = N_l·(N − S_l)``
    where ``S_l = Σ_{{t present in l}} c_t`` — computed algebraically,
    so the absent (slice × vocab) cross product is never materialized.
    One terminal fixed-point division: ``(scale·Σ) DIV (2·N·N_l)``.

    BIGINT headroom: Σ|d| ≤ 2·N·N_l ≈ 1.8e12 at sf0.1; with
    scale=1e5 the numerator is ≈ 1.8e17 — an order under the ceiling.
    At N ≈ 1e9 tokens drop ``scale`` to 1e2 or move the final
    multiply-divide to DECIMAL(38,0).

    Scale shape: one (slice, term) hash aggregate; the per-term corpus
    totals derive from ITS output (a second, smaller aggregate — the
    corpus is shuffled once); slice totals are a tiny broadcast; the
    final per-slice reduce is one row per slice.

    Returns (slice, n_tokens, tv_scaled, tv).
    """
    s = x.SPARK
    ex = df.selectExpr(
        f"{slice_col} AS slice", f"explode({x.tokens(text_col, s)}) AS term"
    )
    clt = pin(
        ex.groupBy("slice", "term").agg(
            F.count(F.lit(1)).cast("long").alias("cl")
        )
    )
    ct = clt.groupBy("term").agg(F.sum("cl").cast("long").alias("ct"))
    nl = clt.groupBy("slice").agg(F.sum("cl").cast("long").alias("n_l"))
    n = clt.agg(F.sum("cl").cast("long").alias("n_total"))
    per_slice = (
        clt.join(ct, on="term")
        .join(F.broadcast(nl), on="slice")
        .crossJoin(F.broadcast(n))
        .groupBy("slice", "n_l", "n_total")
        .agg(
            F.sum(F.expr("abs(cl * n_total - ct * n_l)")).cast("long").alias("present"),
            F.sum("ct").cast("long").alias("s_l"),
        )
    )
    return per_slice.selectExpr(
        "slice",
        "n_l AS n_tokens",
        f"(CAST({scale} AS BIGINT) * (present + n_l * (n_total - s_l)))"
        " DIV (2 * n_total * n_l) AS tv_scaled",
        f"CAST((CAST({scale} AS BIGINT) * (present + n_l * (n_total - s_l)))"
        f" DIV (2 * n_total * n_l) AS DOUBLE) / CAST({scale} AS DOUBLE) AS tv",
    )


def corpus_drift_tv_oracle_sql(
    table: str = "documents",
    scale: int = TV_SCALE,
    text_col: str = "text",
    slice_col: str = "lang",
) -> str:
    """DuckDB mirror of :func:`corpus_drift_tv` — same algebraic
    absent-mass term, same single terminal fixed-point division."""
    d = x.DUCK
    return f"""
WITH ex AS (
  SELECT {slice_col} AS slice, UNNEST({x.tokens(text_col, d)}) AS term
  FROM {table}
), clt AS (
  SELECT slice, term, CAST(COUNT(*) AS BIGINT) AS cl FROM ex GROUP BY 1, 2
), ct AS (
  SELECT term, CAST(SUM(cl) AS BIGINT) AS ct FROM clt GROUP BY 1
), nl AS (
  SELECT slice, CAST(SUM(cl) AS BIGINT) AS n_l FROM clt GROUP BY 1
), n AS (
  SELECT CAST(SUM(cl) AS BIGINT) AS n_total FROM clt
), per_slice AS (
  SELECT clt.slice, nl.n_l, n.n_total,
         CAST(SUM(ABS(clt.cl * n.n_total - ct.ct * nl.n_l)) AS BIGINT) AS present,
         CAST(SUM(ct.ct) AS BIGINT) AS s_l
  FROM clt JOIN ct USING (term) JOIN nl USING (slice) CROSS JOIN n
  GROUP BY 1, 2, 3
)
SELECT slice, n_l AS n_tokens,
       CAST((CAST({scale} AS BIGINT) * (present + n_l * (n_total - s_l)))
         // (2 * n_total * n_l) AS BIGINT) AS tv_scaled,
       CAST(CAST((CAST({scale} AS BIGINT) * (present + n_l * (n_total - s_l)))
         // (2 * n_total * n_l) AS BIGINT) AS DOUBLE) / CAST({scale} AS DOUBLE) AS tv
FROM per_slice
"""


class IncrementalUnigramLM(SlicedIndex):
    """Daily-cadence unigram LM — the sixth incremental surface (next
    to BucketedPipeline, near-dup, ANN, IVF-PQ, BM25): the corpus
    language model behind perplexity bucketing and drift telemetry
    must absorb a crawl slice in O(slice), never re-tokenize the
    accumulated corpus.

    State = two catalog tables:

    * ``{name}_lm_counts`` (term, ct) — per-slice partial occurrence
      counts, BUCKETED BY term: scoring and drift probes join on the
      term key, so probe frames shuffle only their own tokens and the
      standing counts read co-located;
    * ``{name}_lm_totals`` (n_total, n_docs) — one row appended per
      slice.

    Exactness invariant (property-tested): counts and totals are
    ADDITIVE over slices and the fixed-point quantization happens at
    probe time from the summed state, so after ingesting B1..Bn:

    * ``score(B1 ∪ .. ∪ Bn)`` == :func:`ccnet_surprisal_buckets`
      (B1 ∪ .. ∪ Bn) EXACTLY — same integer surprisal, same tercile
      cutpoints (the registered incremental query reuses the one-shot
      oracle, the bm25_incremental pattern);
    * ``drift(B1 ∪ .. ∪ Bn, slice_col)`` == :func:`corpus_drift_tv`
      over the union, exactly.

    ``drift`` also takes frames the LM has NEVER seen (the production
    use: yesterday's model, today's feed): probe terms unknown to the
    LM carry ct=0 through a left join — their |cl·N − 0| mass lands in
    the present sum and the algebraic absent-mass term N_l·(N − S_l)
    only ever counts standing terms (S_l sums coalesced cts), so the
    distance stays exact and in [0, 1].
    """

    def __init__(
        self,
        spark,
        name: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_buckets: int = 8,
        scale: int = SURPRISAL_SCALE,
    ) -> None:
        self.spark = spark
        self.counts_table = f"{name}_lm_counts"
        self.totals_table = f"{name}_lm_totals"
        self.text_col = text_col
        self.id_col = id_col
        self.num_buckets = num_buckets
        self.scale = scale
        self.components = (
            ("counts", self.counts_table, ["term"]),
            ("totals", self.totals_table, None),
        )

    def _tokenized(self, docs: DataFrame) -> DataFrame:
        return docs.selectExpr(
            self.id_col, f"{x.tokens(self.text_col, x.SPARK)} AS _t"
        ).selectExpr(
            self.id_col, f"CAST({x.xsize('_t', x.SPARK)} AS BIGINT) AS dl", "_t"
        )

    def _encode(self, docs: DataFrame) -> dict[str, DataFrame]:
        """{counts, totals} for one slice — one tokenize pass, the same
        expressions whether the slice arrives via the batch ``ingest``
        or the exactly-once ``ingest_slice`` (determinism is what makes
        a replayed slice rewrite identical rows)."""
        g = pin(self._tokenized(docs).filter("dl > 0"))
        counts = g.select(F.explode("_t").alias("term")).groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("ct")
        )
        totals = g.agg(
            F.sum("dl").cast("long").alias("n_total"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        return {"counts": counts, "totals": totals}

    def _stage_slice(self, docs, slice_id, stage) -> None:
        # aggregate outputs: AQE already coalesces their writes (see
        # the BM25 note) — no explicit file budget
        for component, df in self._encode(docs).items():
            stage(component, df)

    def ingest(self, docs: DataFrame) -> None:
        """Absorb one slice: append its term counts and a totals row.
        O(slice); standing tables are append-only (compact() collapses
        the per-append files). Batch-grain path — inside foreachBatch
        use :meth:`ingest_slice`, which is idempotent under replay."""
        self._write_base(self._encode(docs), reset=True)

    def _summed(self) -> tuple[DataFrame, DataFrame]:
        """Summed standing state (ct per term, corpus totals) over the
        base tables ∪ committed slice deltas."""
        counts, totals = self._state("counts", "totals")
        ct = counts.groupBy("term").agg(
            F.sum("ct").cast("long").alias("ct")
        )
        tot = totals.agg(
            F.sum("n_total").cast("long").alias("n_total"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )
        return ct, tot

    def score(self, docs: DataFrame) -> DataFrame:
        """Surprisal-bucket ``docs`` against the standing LM — same
        arithmetic and output schema as :func:`ccnet_surprisal_buckets`
        with (ct, N) read from the summed state. Probe-only terms
        (never seen by the LM) would make the log ratio infinite; they
        carry ct=0 through the left join and score at the maximum
        observable surprisal floor(log2 N) + 1 — one grain above any
        seen singleton, the standard out-of-vocabulary clamp."""
        from pyspark.sql.window import Window

        ctd, tot = self._summed()
        g = self._tokenized(docs).filter("dl > 0")
        ex = g.select(self.id_col, "dl", F.explode("_t").alias("term"))
        tf = ex.groupBy(self.id_col, "dl", "term").agg(
            F.count(F.lit(1)).cast("long").alias("tf")
        )
        qsurp = (
            f"CASE WHEN ct IS NULL THEN {x.blen('n_total', x.SPARK)} "
            f"ELSE {x.floor_log2_ratio('n_total', 'ct', x.SPARK)} END"
        )
        docsc = pin(
            tf.join(ctd, on="term", how="left")
            .crossJoin(F.broadcast(tot))
            .groupBy(self.id_col, "dl", "n_docs")
            .agg(F.sum(F.expr(f"tf * CAST({qsurp} AS BIGINT)")).alias("_sq"))
            .selectExpr(
                self.id_col,
                "dl",
                "n_docs",
                f"(CAST({self.scale} AS BIGINT) * _sq) DIV dl AS surprisal_scaled",
            )
        )
        # tercile cutpoints over the PROBE frame's scores (n_docs of
        # the probe, not the corpus): mirror of the one-shot operator
        n_probe = docsc.groupBy().agg(
            F.count(F.lit(1)).cast("long").alias("n_probe")
        )
        hist = docsc.groupBy("surprisal_scaled").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        cw = Window.orderBy("surprisal_scaled").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        thr = (
            hist.withColumn("cum", F.sum("cnt").over(cw))
            .crossJoin(F.broadcast(n_probe))
            .agg(
                F.min(
                    F.when(
                        F.col("cum") * 3 >= F.col("n_probe"),
                        F.col("surprisal_scaled"),
                    )
                ).alias("t1"),
                F.min(
                    F.when(
                        F.col("cum") * 3 >= 2 * F.col("n_probe"),
                        F.col("surprisal_scaled"),
                    )
                ).alias("t2"),
            )
        )
        return docsc.crossJoin(F.broadcast(thr)).selectExpr(
            self.id_col,
            "dl",
            "surprisal_scaled",
            f"CAST(surprisal_scaled AS DOUBLE) / CAST({self.scale} AS DOUBLE)"
            " AS surprisal",
            "CASE WHEN surprisal_scaled <= t1 THEN 'head' "
            "WHEN surprisal_scaled <= t2 THEN 'middle' ELSE 'tail' END AS bucket",
        )

    def drift(
        self, docs: DataFrame, slice_col: str = "lang", tv_scale: int = TV_SCALE
    ) -> DataFrame:
        """Per-slice total-variation distance of ``docs``'s unigram
        distributions vs the standing LM — same output schema as
        :func:`corpus_drift_tv` with (ct, N) read from the summed
        state. Works for both ingested frames (drift of each slice vs
        the corpus it is part of) and unseen feeds (ct=0 terms stay in
        the present sum)."""
        ctd, tot = self._summed()
        ex = docs.selectExpr(
            f"{slice_col} AS slice",
            f"explode({x.tokens(self.text_col, x.SPARK)}) AS term",
        )
        clt = ex.groupBy("slice", "term").agg(
            F.count(F.lit(1)).cast("long").alias("cl")
        )
        nl = clt.groupBy("slice").agg(F.sum("cl").cast("long").alias("n_l"))
        per_slice = (
            clt.join(ctd, on="term", how="left")
            .join(F.broadcast(nl), on="slice")
            .crossJoin(F.broadcast(tot))
            .groupBy("slice", "n_l", "n_total")
            .agg(
                F.sum(
                    F.expr("abs(cl * n_total - COALESCE(ct, 0) * n_l)")
                ).cast("long").alias("present"),
                F.sum(F.expr("COALESCE(ct, 0)")).cast("long").alias("s_l"),
            )
        )
        return per_slice.selectExpr(
            "slice",
            "n_l AS n_tokens",
            f"(CAST({tv_scale} AS BIGINT) * (present + n_l * (n_total - s_l)))"
            " DIV (2 * n_total * n_l) AS tv_scaled",
            f"CAST((CAST({tv_scale} AS BIGINT) * (present + n_l * (n_total - s_l)))"
            f" DIV (2 * n_total * n_l) AS DOUBLE) / CAST({tv_scale} AS DOUBLE) AS tv",
        )


def bigram_surprisal_buckets(
    df: DataFrame,
    scale: int = SURPRISAL_SCALE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The n-gram generalization of :func:`ccnet_surprisal_buckets`
    (CCNet proper scores with a 5-gram KenLM; this is the n=2 member
    of the same family, showing the integer-exact LM machinery is not
    unigram-specific): per-doc mean CONDITIONAL surprisal
    ``-log2 P(w2|w1)`` under the corpus bigram LM with add-one
    smoothing, ``P(w2|w1) = (c(w1w2)+1) / (c1(w1)+V)`` — c1 counts
    w1's occurrences as a bigram prefix, V is the corpus unigram
    vocabulary. The log is the EXACT integer
    ``floor(log2 (c1+V)/(c12+1))`` (non-negative since c12 <= c1),
    occurrence-weighted and fixed-point-averaged over the doc's
    bigram positions; head/middle/tail at cumulative-histogram
    tercile cutpoints exactly as in the unigram form. Docs with < 2
    tokens have no bigram positions and are excluded.

    Scale shape: one positional-bigram explode feeds the bigram
    count, the prefix count, and the per-doc tf — three aggregates
    off one pinned frame; V and n_docs ride a 1-row broadcast; the
    probe joins are term-keyed equi-joins; the histogram trick keeps
    the cutpoints off any corpus-sized sort.

    Returns (doc_id, n_bigrams, surprisal_scaled, surprisal, bucket).
    """
    from pyspark.sql.window import Window

    s = x.SPARK
    tok = x.tokens(text_col, s)
    bg = x.let(tok, "_t", _bigram_list_expr("_t", s), s)
    g = df.selectExpr(
        id_col, f"{bg} AS _bg"
    ).selectExpr(
        id_col, f"CAST({x.xsize('_bg', s)} AS BIGINT) AS nb", "_bg"
    ).filter("nb > 0")
    ex = pin(
        g.select(id_col, "nb", F.explode("_bg").alias("bg"))
        .selectExpr(id_col, "nb", "bg", "split(bg, ' ')[0] AS w1")
    )
    tf = ex.groupBy(id_col, "nb", "bg", "w1").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    c12 = ex.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    c1 = ex.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    # one combined 1-row constants frame (V, n_docs) — a single
    # broadcast nested-loop instead of two
    consts = df.selectExpr(
        f"explode({x.tokens(text_col, s)}) AS term"
    ).agg(F.countDistinct("term").cast("long").alias("v")).crossJoin(
        g.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    qsurp = x.floor_log2_ratio("c1 + v", "c12 + 1", s)
    docsc = pin(
        tf.join(c12, on="bg")
        .join(c1, on="w1")
        .crossJoin(F.broadcast(consts))
        .groupBy(id_col, "nb", "n_docs")
        .agg(F.sum(F.expr(f"tf * CAST({qsurp} AS BIGINT)")).alias("_sq"))
        .selectExpr(
            id_col,
            "nb AS n_bigrams",
            "n_docs",
            f"(CAST({scale} AS BIGINT) * _sq) DIV nb AS surprisal_scaled",
        )
    )
    hist = docsc.groupBy("surprisal_scaled", "n_docs").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cw = Window.orderBy("surprisal_scaled").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    thr = (
        hist.withColumn("cum", F.sum("cnt").over(cw))
        .agg(
            F.min(
                F.when(F.col("cum") * 3 >= F.col("n_docs"), F.col("surprisal_scaled"))
            ).alias("t1"),
            F.min(
                F.when(
                    F.col("cum") * 3 >= 2 * F.col("n_docs"), F.col("surprisal_scaled")
                )
            ).alias("t2"),
        )
    )
    return docsc.crossJoin(F.broadcast(thr)).selectExpr(
        id_col,
        "n_bigrams",
        "surprisal_scaled",
        f"CAST(surprisal_scaled AS DOUBLE) / CAST({scale} AS DOUBLE) AS surprisal",
        "CASE WHEN surprisal_scaled <= t1 THEN 'head' "
        "WHEN surprisal_scaled <= t2 THEN 'middle' ELSE 'tail' END AS bucket",
    )


def bigram_surprisal_buckets_oracle_sql(
    table: str = "documents",
    scale: int = SURPRISAL_SCALE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`bigram_surprisal_buckets`."""
    d = x.DUCK
    tok = x.tokens(text_col, d)
    bg = x.let(tok, "_t", _bigram_list_expr("_t", d), d)
    qsurp = x.floor_log2_ratio("c1.c1 + tot.v", "c12.c12 + 1", d)
    return f"""
WITH g0 AS (
  SELECT {id_col}, {bg} AS _bg FROM {table}
), g AS (
  SELECT {id_col}, CAST({x.xsize('_bg', d)} AS BIGINT) AS nb, _bg FROM g0
  WHERE {x.xsize('_bg', d)} > 0
), ex AS (
  SELECT {id_col}, nb, bg, string_split(bg, ' ')[1] AS w1
  FROM (SELECT {id_col}, nb, UNNEST(_bg) AS bg FROM g)
), tf AS (
  SELECT {id_col}, nb, bg, w1, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ex GROUP BY 1, 2, 3, 4
), c12 AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM ex GROUP BY 1
), c1 AS (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM ex GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v
  FROM (SELECT UNNEST({tok}) AS term FROM {table})
), nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM g
), docsc AS (
  SELECT tf.{id_col}, tf.nb AS n_bigrams, nd.n_docs,
         CAST((CAST({scale} AS BIGINT)
               * CAST(SUM(tf.tf * CAST({qsurp} AS BIGINT)) AS BIGINT))
           // tf.nb AS BIGINT) AS surprisal_scaled
  FROM tf JOIN c12 USING (bg) JOIN c1 USING (w1) CROSS JOIN tot CROSS JOIN nd
  GROUP BY 1, 2, 3
), hist AS (
  SELECT surprisal_scaled, n_docs, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM docsc GROUP BY 1, 2
), cum AS (
  SELECT surprisal_scaled, n_docs,
         SUM(cnt) OVER (ORDER BY surprisal_scaled
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
), thr AS (
  SELECT MIN(CASE WHEN cum * 3 >= n_docs THEN surprisal_scaled END) AS t1,
         MIN(CASE WHEN cum * 3 >= 2 * n_docs THEN surprisal_scaled END) AS t2
  FROM cum
)
SELECT d.{id_col}, d.n_bigrams, d.surprisal_scaled,
       CAST(d.surprisal_scaled AS DOUBLE) / CAST({scale} AS DOUBLE) AS surprisal,
       CASE WHEN d.surprisal_scaled <= thr.t1 THEN 'head'
            WHEN d.surprisal_scaled <= thr.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM docsc d CROSS JOIN thr
"""


class IncrementalDSIRModel(SlicedIndex):
    """Daily-cadence DSIR — the seventh incremental surface: the
    importance model behind :func:`dsir_select` (hashed-bigram target
    and raw distributions) must absorb a crawl slice in O(slice), and
    the production probe is "yesterday's model scores today's
    candidates".

    State = two catalog tables:

    * ``{name}_dsir_counts`` (fb, ct, cr) — per-slice partial hashed-
      bigram occurrence counts for the target (ct) and raw (cr)
      distributions, BUCKETED BY fb so probes read co-located;
    * ``{name}_dsir_totals`` (t_tot, r_tot) — one row per slice.

    Exactness invariant (unit-tested): counts and totals are ADDITIVE
    over slices and both the smoothing and the k-th-largest threshold
    are applied at probe time from the summed state, so after
    ingesting B1..Bn, ``select(B1 ∪ .. ∪ Bn)`` equals
    :func:`dsir_select` over the union exactly — the registered query
    reuses the one-shot oracle.

    ``select`` also takes candidate frames the model has NEVER seen
    (the production cadence): features unknown to the raw distribution
    carry cr=0 through the left join, so the add-one smoothing alone
    prices them — same for unknown-to-target features (ct=0).
    """

    def __init__(
        self,
        spark,
        name: str,
        n_buckets: int = DSIR_BUCKETS,
        target_lang: str = "en",
        text_col: str = "text",
        id_col: str = "doc_id",
        lang_col: str = "lang",
        num_buckets: int = 8,
    ) -> None:
        self.spark = spark
        self.counts_table = f"{name}_dsir_counts"
        self.totals_table = f"{name}_dsir_totals"
        self.n_buckets = n_buckets
        self.target_lang = target_lang
        self.text_col = text_col
        self.id_col = id_col
        self.lang_col = lang_col
        self.num_buckets = num_buckets
        self.components = (
            ("counts", self.counts_table, ["fb"]),
            ("totals", self.totals_table, None),
        )

    def _features(self, docs: DataFrame) -> DataFrame:
        s = x.SPARK
        tok = x.tokens(self.text_col, s)
        bg = x.let(tok, "_t", _bigram_list_expr("_t", s), s)
        return (
            docs.selectExpr(self.id_col, self.lang_col, f"{bg} AS _bg")
            .select(self.id_col, self.lang_col, F.explode("_bg").alias("_f"))
            .selectExpr(
                self.id_col,
                self.lang_col,
                f"pmod({x.h60('_f', s)}, {self.n_buckets}) AS fb",
            )
        )

    def _encode(self, docs: DataFrame) -> dict[str, DataFrame]:
        """{counts, totals} for one slice — one feature pass, shared by
        the batch ``ingest`` and the exactly-once ``ingest_slice``
        (deterministic, so a replayed slice rewrites identical rows)."""
        is_t = F.col(self.lang_col) == self.target_lang
        ex = pin(self._features(docs))
        counts = ex.groupBy("fb").agg(
            F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("ct"),
            F.sum(F.when(is_t, 0).otherwise(1)).cast("long").alias("cr"),
        )
        totals = ex.agg(
            F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("t_tot"),
            F.sum(F.when(is_t, 0).otherwise(1)).cast("long").alias("r_tot"),
        )
        return {"counts": counts, "totals": totals}

    def _stage_slice(self, docs, slice_id, stage) -> None:
        # aggregate outputs: AQE already coalesces their writes (see
        # the BM25 note) — no explicit file budget
        for component, df in self._encode(docs).items():
            stage(component, df)

    def ingest(self, docs: DataFrame) -> None:
        """Absorb one slice: append its per-bucket target/raw counts
        and a totals row. O(slice), append-only. Batch-grain path —
        inside foreachBatch use :meth:`ingest_slice`."""
        self._write_base(self._encode(docs), reset=True)

    def _summed(self) -> tuple[DataFrame, DataFrame]:
        """Summed standing state (ct/cr per bucket, totals) over the
        base tables ∪ committed slice deltas."""
        counts, totals = self._state("counts", "totals")
        st = counts.groupBy("fb").agg(
            F.sum("ct").cast("long").alias("ct"),
            F.sum("cr").cast("long").alias("cr"),
        )
        tot = totals.agg(
            F.sum("t_tot").cast("long").alias("t_tot"),
            F.sum("r_tot").cast("long").alias("r_tot"),
        )
        return st, tot

    def select(self, docs: DataFrame, k: int = 25) -> DataFrame:
        """Score ``docs``'s candidates (lang != target) against the
        standing model and keep weight >= the k-th largest — identical
        arithmetic and output schema to :func:`dsir_select` with
        (ct, cr, totals) read from the summed state."""
        from pyspark.sql.window import Window

        st, tot = self._summed()
        qlog = x.floor_log2_ratio(
            f"(COALESCE(ct, 0) + 1) * (r_tot + {self.n_buckets})",
            f"(COALESCE(cr, 0) + 1) * (t_tot + {self.n_buckets})",
            x.SPARK,
        )
        cand = pin(
            self._features(docs)
            .filter(F.col(self.lang_col) != self.target_lang)
            .groupBy(self.id_col, self.lang_col, "fb")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .join(st.hint("shuffle_hash"), on="fb", how="left")
            .crossJoin(F.broadcast(tot))
            .groupBy(self.id_col, self.lang_col)
            .agg(
                F.sum("tf").alias("n_features"),
                F.sum(F.expr(f"tf * CAST({qlog} AS BIGINT)")).alias("weight_q"),
            )
        )
        hist = cand.groupBy("weight_q").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        cw = Window.orderBy(F.col("weight_q").desc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        thr = (
            hist.withColumn("cum", F.sum("cnt").over(cw))
            .agg(F.max(F.when(F.col("cum") >= k, F.col("weight_q"))).alias("t_k"))
        )
        return (
            cand.crossJoin(F.broadcast(thr))
            .filter(F.col("weight_q") >= F.coalesce(F.col("t_k"), F.lit(-(1 << 62))))
            .select(self.id_col, self.lang_col, "n_features", "weight_q")
        )


# -- fastText-shape quality classifier ----------------------------------------

#: Hashed feature space of the linear quality classifier. fastText's
#: default bucket table is 2M; 4096 keeps the broadcast model table a
#: few KB while exercising the identical plan shape — the table size is
#: a knob, not a structural property (even 2M rows x 16 B broadcasts
#: fine).
QCLF_N_BUCKETS = 4096
#: Weight grain: stored weights live in [0, 2*QCLF_W_SCALE] (shifted
#: non-negative so the fixed-point mean's integer division only ever
#: sees non-negative operands — DuckDB // equals Spark DIV there),
#: representing true weights in [-1.0, +1.0] at 1e-3 resolution.
QCLF_W_SCALE = 1_000
#: Logit fixed-point scale of the output score.
QCLF_SIG_SCALE = 1_000_000
#: Frozen bias (at QCLF_SIG_SCALE): +0.05 — a stand-in for the trained
#: intercept, like the derived weights below.
QCLF_BIAS_SCALED = 50_000

# Integer sigmoid bucketing: applying a monotone sigmoid then
# thresholding at p = 0.1 .. 0.9 is EXACTLY thresholding the logit at
# ln(p/(1-p)) — so the probability deciles come from nine precomputed
# integer logit cutpoints and no float exp/ln ever crosses an engine
# boundary. Computed once in Python and baked identically into both
# dialects' expression strings; c[4] (p=0.5) is exactly 0.
import math as _math  # noqa: E402

QCLF_DECILE_CUTS: tuple[int, ...] = tuple(
    int(round(_math.log(p / (1.0 - p)) * QCLF_SIG_SCALE))
    for p in (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
)


#: fastText's ngram-hash multiplier (dictionary.cc: ``h = h * 116049371
#: + wordHash``): bigram feature buckets are COMPOSED from the two word
#: hashes instead of md5-hashing the joined bigram string. That is both
#: more faithful to fastText and half the md5 work — each token is
#: hashed exactly once and every bigram bucket is integer arithmetic
#: over the reduced word buckets (r15 verdict task 3: the classifier
#: constant factor was the per-feature md5 chain).
QCLF_BIGRAM_MULT = 116049371


def qclf_feature_buckets_expr(text_col: str, d: str, n_buckets: int) -> str:
    """Bucket array (unigram buckets then word-bigram buckets) shared
    by both fastText-shape classifiers, identical in both dialects.

    ONE md5 per token (``h60``), reduced to a bucket; bigram bucket =
    ``(b_i * MULT + b_{i+1}) % n_buckets`` — all operands stay far
    below 2^63 (b < n_buckets, MULT ~ 2^27), so Spark's ANSI BIGINT
    arithmetic and DuckDB agree exactly. The explode downstream then
    carries BIGINT buckets, never feature strings."""
    tok = x.tokens(text_col, d)
    hb = x.xform("_t", "t", f"({x.h60('t', d)} % {n_buckets})", d)
    n1 = f"({x.xsize('_h', d)} - 1)"
    bi_body = (
        f"(({x.idx_var('_h', 'i', d)} * {QCLF_BIGRAM_MULT} "
        f"+ {x.idx_var('_h', 'i', d, 1)}) % {n_buckets})"
    )
    bi = x.xform(x.zero_range(n1, d), "i", bi_body, d)
    inner = x.concat_arrays("_h", bi, d)
    return x.let(tok, "_t", x.let(hb, "_h", inner, d), d)


def qclf_weight_expr(bucket: str, d: str) -> str:
    """Frozen per-bucket classifier weight, SHIFTED non-negative:
    ``h60('qclf-w' || bucket) % (2*W_SCALE + 1)`` — a deterministic
    pseudorandom stand-in for trained parameters (this container has no
    training data or labels; a production deployment loads its trained
    fastText/CCNet weight vector into a table with this exact (bucket,
    weight) schema and the plan is unchanged). Both engines derive the
    identical table because h60 is the shared md5 prefix."""
    h = x.h60(f"concat('qclf-w', CAST({bucket} AS STRING))", d) if d == x.SPARK \
        else x.h60(f"('qclf-w' || CAST({bucket} AS VARCHAR))", d)
    return f"({h} % {2 * QCLF_W_SCALE + 1})"


def quality_classifier_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = QCLF_N_BUCKETS,
    bias_scaled: int = QCLF_BIAS_SCALED,
) -> DataFrame:
    """fastText-shape linear quality classifier inference (Joulin et
    al. 2016, arXiv:1607.01759 — the model family behind the CCNet /
    GPT-3 / LLaMA quality filters): features are hashed unigrams AND
    word bigrams (fastText's wordNgrams=2 mode), the model is a
    broadcast (bucket, weight) table, the document score is the mean
    feature weight plus bias — a linear logit — and the classifier
    decision is the logit's sign.

    Integer-exact inference (the repo's determinism contract): weights
    are stored shifted non-negative at grain 1/W_SCALE, the mean is
    one fixed-point division of non-negative BIGINTs (where DuckDB //
    and Spark DIV agree), and the sigmoid is APPLIED AS BUCKETING —
    nine precomputed integer logit cutpoints (QCLF_DECILE_CUTS) give
    the probability decile without any float exp: monotone sigmoid +
    threshold == logit threshold. ``keep`` is decile >= 5, i.e.
    p >= 0.5, i.e. logit >= 0 exactly (cut[4] == 0).

    Scale shape: tokenize once, hash each token ONCE (bigram buckets
    compose from the word hashes, fastText-style — see
    :data:`QCLF_BIGRAM_MULT`), build the unigram+bigram BUCKET array in
    ONE array expression, explode to (doc, bucket) BIGINT rows (no
    feature strings cross the explode), broadcast-join the
    n_buckets-row model table (model size is independent of corpus
    size — the canonical broadcast dimension), then ONE hash aggregate
    per document. No window, no corpus-sized sort; the only shuffle is
    the per-doc sum. Docs with zero tokens have no features and are
    excluded.

    Returns (doc_id, n_feats, logit_scaled, logit, prob_decile, keep).
    """
    s = x.SPARK
    feats = qclf_feature_buckets_expr(text_col, s, n_buckets)
    g = df.selectExpr(id_col, f"{feats} AS _f").selectExpr(
        id_col, f"CAST({x.xsize('_f', s)} AS BIGINT) AS n_feats", "_f"
    ).filter("n_feats > 0")
    ex = g.select(id_col, "n_feats", F.explode("_f").alias("b"))
    spark = df.sparkSession
    w = spark.range(n_buckets).selectExpr(
        "id AS b", f"CAST({qclf_weight_expr('id', s)} AS BIGINT) AS w_shift"
    )
    summed = (
        ex.join(F.broadcast(w), on="b")
        .groupBy(id_col, "n_feats")
        .agg(F.sum("w_shift").cast("long").alias("sw_shift"))
    )
    # mean weight at SIG_SCALE: (S * sw_shift) DIV (n_feats * W_SCALE)
    # is the shifted mean in [0, 2S]; un-shift by -S, add the bias.
    # Non-negative operands throughout the division.
    logit = (
        f"(CAST({QCLF_SIG_SCALE} AS BIGINT) * sw_shift)"
        f" DIV (n_feats * {QCLF_W_SCALE})"
        f" - {QCLF_SIG_SCALE} + ({bias_scaled})"
    )
    decile = " + ".join(
        f"(CASE WHEN logit_scaled >= {c} THEN 1 ELSE 0 END)"
        for c in QCLF_DECILE_CUTS
    )
    return (
        summed.selectExpr(id_col, "n_feats", f"{logit} AS logit_scaled")
        .selectExpr(
            id_col,
            "n_feats",
            "logit_scaled",
            f"CAST(logit_scaled AS DOUBLE) / CAST({QCLF_SIG_SCALE} AS DOUBLE)"
            " AS logit",
            f"CAST({decile} AS INT) AS prob_decile",
        )
        .selectExpr(
            id_col,
            "n_feats",
            "logit_scaled",
            "logit",
            "prob_decile",
            "prob_decile >= 5 AS keep",
        )
    )


def quality_classifier_score_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = QCLF_N_BUCKETS,
    bias_scaled: int = QCLF_BIAS_SCALED,
) -> str:
    """DuckDB mirror of :func:`quality_classifier_score` — same derived
    weight table (h60 is the shared md5 prefix), same shifted
    non-negative fixed-point mean, same integer logit cutpoints."""
    d = x.DUCK
    feats = qclf_feature_buckets_expr(text_col, d, n_buckets)
    logit = (
        f"(CAST({QCLF_SIG_SCALE} AS BIGINT) * sw_shift)"
        f" // (n_feats * {QCLF_W_SCALE})"
        f" - {QCLF_SIG_SCALE} + ({bias_scaled})"
    )
    decile = " + ".join(
        f"(CASE WHEN logit_scaled >= {c} THEN 1 ELSE 0 END)"
        for c in QCLF_DECILE_CUTS
    )
    return f"""
WITH g AS (
  SELECT {id_col}, {feats} AS _f FROM {table}
), gg AS (
  SELECT {id_col}, CAST({x.xsize('_f', d)} AS BIGINT) AS n_feats, _f
  FROM g WHERE {x.xsize('_f', d)} > 0
), ex AS (
  SELECT {id_col}, n_feats, UNNEST(_f) AS b
  FROM gg
), w AS (
  SELECT b, CAST({qclf_weight_expr('b', d)} AS BIGINT) AS w_shift
  FROM range({n_buckets}) t(b)
), summed AS (
  SELECT ex.{id_col}, ex.n_feats,
         CAST(SUM(w.w_shift) AS BIGINT) AS sw_shift
  FROM ex JOIN w USING (b)
  GROUP BY 1, 2
), scored AS (
  SELECT {id_col}, n_feats, CAST({logit} AS BIGINT) AS logit_scaled
  FROM summed
), bucketed AS (
  SELECT {id_col}, n_feats, logit_scaled,
         CAST(logit_scaled AS DOUBLE) / CAST({QCLF_SIG_SCALE} AS DOUBLE)
           AS logit,
         CAST({decile} AS INT) AS prob_decile
  FROM scored
)
SELECT {id_col}, n_feats, logit_scaled, logit, prob_decile,
       prob_decile >= 5 AS keep
FROM bucketed
"""


# -- greedy subword segmentation (WordPiece-shape) -----------------------------

#: Frozen subword vocabulary — the tokenizer analog of a trained
#: WordPiece/BPE vocab file (production loads its tokenizer.json pieces
#: here; the greedy longest-match walk below is unchanged). Singles
#: cover the fixture charset so [UNK] stays the out-of-alphabet escape,
#: multi-char pieces are common English/corpus subunits. Ships as a
#: plan CONSTANT (a literal array in the expression tree — fine at this
#: size; a 30k-piece production vocab rides a broadcast 1-row array
#: frame instead, same semantics).
SUBWORD_VOCAB: tuple[str, ...] = tuple(
    [chr(c) for c in range(ord("a"), ord("z") + 1)]
    + [str(i) for i in range(10)]
    + [
        "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
        "ti", "es", "or", "te", "ar", "st", "le", "ow", "ey", "ue",
        "ch", "sh", "am", "up", "rk", "ge", "gg",
        "row", "col", "val", "tab", "str", "lin", "dat", "gro", "par",
        "spa", "cus", "tom", "fil", "win", "dow", "ort", "ast", "low",
        "sma", "all", "mer", "ord", "vec", "tor", "ind", "tch", "eam",
        "umn", "ble", "ter", "ion", "ing",
        "scan", "hash", "join", "sort", "key",
    ]
)
SUBWORD_MAX_PIECE = max(len(p) for p in SUBWORD_VOCAB)
#: Fingerprint modulus (2^31 - 1): the walk folds each piece-boundary
#: position into fp = (fp*31 + pos) % M — the boundary sequence
#: determines the segmentation exactly, so equal fps mean equal
#: segmentations (up to hash collision), and fp*31+pos < 2^36 never
#: overflows BIGINT.
SUBWORD_FP_MOD = 2_147_483_647


def _subword_vocab_lit(d: str) -> str:
    items = ", ".join(f"'{p}'" for p in SUBWORD_VOCAB)
    return f"array({items})" if d == x.SPARK else f"[{items}]"


def subword_match_len_expr(w: str, pos: str, d: str) -> str:
    """Longest vocab piece starting at ``pos`` (1-based) of word ``w``,
    NULL when even the single character is out-of-vocab. A lambda-free
    CASE chain over piece lengths max..1 (each arm guards the remaining
    length, so a truncated substr can never fake a longer match) —
    deliberately not a filter/array_max lambda: DuckDB 1.0's nested
    lambda captures mis-vectorize (list_reduce returned DIFFERENT
    results for identical rows in the same batch — probed r15), and a
    static chain is also friendlier to Spark codegen."""
    contains = "array_contains" if d == x.SPARK else "list_contains"
    sub = "substring" if d == x.SPARK else "substr"
    v = _subword_vocab_lit(d)
    arms = " ".join(
        f"WHEN {pos} + {l - 1} <= length({w}) "
        f"AND {contains}({v}, {sub}({w}, CAST({pos} AS INT), {l})) THEN {l}"
        for l in range(SUBWORD_MAX_PIECE, 0, -1)
    )
    return f"(CASE {arms} ELSE NULL END)"


def subword_walk_expr(w: str, d: str) -> str:
    """Greedy longest-match-first subword segmentation of one word —
    WordPiece's inference algorithm (Wu et al. 2016, arXiv:1609.08144
    §3.1; position-independent pieces, i.e. SentencePiece-style units
    rather than ##-marked continuations — the ## variant is the same
    walk with a second vocab array). Returns a struct
    (pos, cnt, unk, fp): cnt = number of pieces, unk = 1 if the word
    hit an out-of-vocab character (the whole remainder becomes one
    [UNK], as in WordPiece), fp = the boundary-position fingerprint.

    The walk is a LEFT FOLD with at most length(w) steps (each step
    advances >= 1 char; the exhausted state is the identity), spelled
    ``aggregate(sequence(1, L), zero, step)``. SPARK DIALECT ONLY:
    DuckDB 1.0's ``list_reduce`` mis-vectorizes captured columns
    (identical rows in one batch returned different folds — probed
    r15), so the oracle walks the same recurrence as a recursive CTE
    instead (:func:`subword_segment_oracle_sql`). Entirely scan-local:
    no shuffle, no Python — per-character cost is bounded by the
    max-piece-length CASE chain inside codegen.
    """
    if d != x.SPARK:
        raise ValueError(
            "subword_walk_expr is Spark-only: DuckDB 1.0 list_reduce "
            "mis-vectorizes captured columns; use the recursive-CTE "
            "oracle (subword_segment_oracle_sql)"
        )
    L = f"length({w})"
    m = subword_match_len_expr(w, "acc.pos", d)
    zero = (
        "named_struct('pos', CAST(1 AS BIGINT), 'cnt', CAST(0 AS BIGINT), "
        "'unk', CAST(0 AS BIGINT), 'fp', CAST(0 AS BIGINT))"
    )
    unk_state = (
        f"named_struct('pos', CAST({L} + 1 AS BIGINT), 'cnt', acc.cnt + 1, "
        f"'unk', acc.unk + 1, "
        f"'fp', (acc.fp * 31 + {L} + 1) % {SUBWORD_FP_MOD})"
    )
    hit_state = (
        "named_struct('pos', acc.pos + _m, 'cnt', acc.cnt + 1, "
        "'unk', acc.unk, "
        f"'fp', (acc.fp * 31 + acc.pos + _m) % {SUBWORD_FP_MOD})"
    )
    step = (
        f"CASE WHEN acc.pos > {L} THEN acc ELSE "
        f"transform(array(CAST({m} AS BIGINT)), _m -> "
        f"CASE WHEN _m IS NULL THEN {unk_state} ELSE {hit_state} END)[0] "
        "END"
    )
    return f"aggregate(sequence(1, {L}), {zero}, (acc, _i) -> {step})"


def subword_doc_expr(text_col: str, d: str) -> str:
    """Per-document subword stats as ONE struct expression
    (Spark-only; see :func:`subword_walk_expr`): (n_words, n_pieces,
    n_unk_words, seg_fp) — seg_fp sums the per-word boundary
    fingerprints, so it checks the exact segmentation, not just
    counts. Uses the let trick to tokenize and walk exactly once."""
    walk = x.xform("_ws", "_w", subword_walk_expr("_w", d), d)
    sums = {
        "n_pieces": x.xsum_int(x.xform("_segs", "_s", "_s.cnt", d), d),
        "n_unk_words": x.xsum_int(x.xform("_segs", "_s", "_s.unk", d), d),
        "seg_fp": x.xsum_int(x.xform("_segs", "_s", "_s.fp", d), d),
    }
    body = (
        "named_struct('n_words', CAST(size(_ws) AS BIGINT), "
        f"'n_pieces', {sums['n_pieces']}, "
        f"'n_unk_words', {sums['n_unk_words']}, "
        f"'seg_fp', {sums['seg_fp']})"
    )
    inner = x.let(walk, "_segs", body, d)
    return x.let(x.tokens(text_col, d), "_ws", inner, d)


def subword_segment_expr_form(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The r15–r18 pure-expression-tree form of :func:`subword_segment`
    (one ``aggregate`` fold per word inside the scan). Kept as the
    reference twin: higher-order-function folds execute INTERPRETED per
    element, so the Arrow-batched form below replaced it on the hot
    path (r19); tests/test_properties.py pins both forms equal on the
    fixture corpus."""
    s = x.SPARK
    return df.selectExpr(
        id_col, f"{subword_doc_expr(text_col, s)} AS _sw"
    ).selectExpr(
        id_col,
        "_sw.n_words AS n_words",
        "_sw.n_pieces AS n_pieces",
        "_sw.n_unk_words AS n_unk_words",
        "_sw.seg_fp AS seg_fp",
        "CASE WHEN _sw.n_words > 0 THEN (CAST(1000 AS BIGINT) * _sw.n_pieces)"
        " DIV _sw.n_words ELSE CAST(0 AS BIGINT) END AS pieces_per_word_x1000",
    )


def subword_segment(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Greedy subword segmentation stats per document over the frozen
    vocabulary — the real-tokenizer replacement for the
    whitespace/regex token-count proxy in doc_stats: training budgets
    are set in TOKENIZER tokens. Empty docs report zero counts
    (kept — a budget pipeline needs their zero, not their absence).

    Execution (r19, guide §4.2/§4.5): Arrow-batched ``mapInPandas``
    running the identical recurrence in Python — see
    :func:`_segment_map_in_pandas` for why this beats the interpreted
    SQL ``aggregate`` fold it replaced (:func:`subword_segment_expr_form`,
    kept as the equivalence twin). Still zero shuffles and scan-local;
    only (id, text) cross the Python boundary. The oracle twin proves
    the walk with a recursive CTE, one recursion row per emitted piece.

    Returns (doc_id, n_words, n_pieces, n_unk_words, seg_fp,
    pieces_per_word_x1000 — the fixed-point compression diagnostic).
    """
    return _segment_map_in_pandas(
        df,
        text_col,
        (id_col,),
        ("n_words", "n_pieces", "n_unk_words", "seg_fp", "pieces_per_word_x1000"),
        _subword_doc_fn,
    )


def _subword_walk_ctes(table: str, text_col: str, id_col: str) -> str:
    """The shared recursive-CTE walk body (g/words/walk/done): one row
    per (doc, word) state, stepping pos -> pos + match until exhausted
    — the same recurrence as Spark's aggregate fold. Callers compose it
    under ``WITH RECURSIVE`` and aggregate ``done`` their own way."""
    d = x.DUCK
    m = subword_match_len_expr("w", "pos", d)
    return f"""g AS (
  SELECT {id_col}, {x.tokens(text_col, d)} AS _ws FROM {table}
), words AS (
  SELECT {id_col}, UNNEST(_ws) AS w,
         UNNEST(range(1, len(_ws) + 1)) AS wi
  FROM g
), walk AS (
  SELECT {id_col}, wi, w,
         CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cnt,
         CAST(0 AS BIGINT) AS unk, CAST(0 AS BIGINT) AS fp
  FROM words
  UNION ALL
  SELECT {id_col}, wi, w,
         CASE WHEN m IS NULL THEN length(w) + 1 ELSE pos + m END,
         cnt + 1,
         unk + CASE WHEN m IS NULL THEN 1 ELSE 0 END,
         (fp * 31 + CASE WHEN m IS NULL THEN length(w) + 1
                         ELSE pos + m END) % {SUBWORD_FP_MOD}
  FROM (SELECT *, {m} AS m FROM walk WHERE pos <= length(w)) s
), done AS (
  SELECT {id_col}, wi, cnt, unk, fp FROM walk WHERE pos > length(w)
)"""


def subword_segment_oracle_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB mirror of :func:`subword_segment` as a RECURSIVE CTE:
    one row per (doc, word) walk state — the same recurrence as
    Spark's aggregate fold, with the match length from the identical
    lambda-free CASE chain. (list_reduce is avoided on purpose:
    DuckDB 1.0 mis-vectorizes captured columns in fold lambdas —
    probed r15.)"""
    return f"""
WITH RECURSIVE {_subword_walk_ctes(table, text_col, id_col)}, per_doc AS (
  SELECT {id_col},
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(cnt) AS BIGINT) AS n_pieces,
         CAST(SUM(unk) AS BIGINT) AS n_unk_words,
         CAST(SUM(fp) AS BIGINT) AS seg_fp
  FROM done GROUP BY 1
)
SELECT g.{id_col},
       COALESCE(p.n_words, 0) AS n_words,
       COALESCE(p.n_pieces, 0) AS n_pieces,
       COALESCE(p.n_unk_words, 0) AS n_unk_words,
       COALESCE(p.seg_fp, 0) AS seg_fp,
       CASE WHEN COALESCE(p.n_words, 0) > 0
            THEN (CAST(1000 AS BIGINT) * p.n_pieces) // p.n_words
            ELSE CAST(0 AS BIGINT) END AS pieces_per_word_x1000
FROM g LEFT JOIN per_doc p USING ({id_col})
"""


def subword_token_counts_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: str = "source",
) -> str:
    """(id, extra_cols, n_subword_tokens) per document — the oracle-side
    twin of budgeting by REAL tokenizer tokens: composes under another
    oracle\'s FROM clause (token_budget_mixture_oracle_sql takes it as
    its ``table``)."""
    ec = f"t.{', t.'.join(c.strip() for c in extra_cols.split(','))}, " if extra_cols else ""
    return f"""(
WITH RECURSIVE {_subword_walk_ctes(table, text_col, id_col)}, per_doc AS (
  SELECT {id_col}, CAST(SUM(cnt) AS BIGINT) AS n_subword_tokens
  FROM done GROUP BY 1
)
SELECT t.{id_col}, {ec}COALESCE(p.n_subword_tokens, 0) AS n_subword_tokens
FROM {table} t LEFT JOIN per_doc p USING ({id_col})
) sw"""


# -- BPE merge-rank segmentation (GPT-family tokenizer shape) ------------------

#: Frozen BPE merge table, ORDERED BY RANK (rank = 1-based position) —
#: the tokenizer analog of a trained GPT-2 ``merges.txt`` (production
#: loads its merge file into this tuple / a broadcast table; the walk
#: is unchanged). The table is BOTTOM-UP CONSISTENT (every multi-char
#: side is formed by an earlier merge — pinned by a test), which is
#: what real BPE training always produces and what makes the
#: one-at-a-time leftmost-merge recurrence below equal classic
#: merge-all-occurrences BPE: a pair created by applying merge k can
#: only have rank > k, so remaining occurrences of the rank-k pair
#: always win the next step.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("s", "t"), ("e", "s"), ("l", "e"), ("a", "r"), ("c", "h"),
    ("o", "w"), ("i", "t"), ("o", "u"), ("an", "d"), ("in", "g"),
    ("t", "o"), ("e", "d"), ("i", "s"), ("a", "l"), ("u", "s"),
    ("m", "a"), ("s", "e"), ("th", "at"), ("d", "e"), ("c", "o"),
    ("r", "o"), ("p", "ar"), ("s", "u"), ("t", "er"), ("l", "i"),
    ("ou", "r"), ("t", "a"), ("d", "at"), ("co", "l"), ("ro", "w"),
    ("s", "p"), ("k", "e"), ("v", "al"), ("g", "r"), ("f", "i"),
    ("w", "in"), ("or", "d"), ("le", "n"), ("st", "r"),
    ("ch", "ar"), ("ta", "b"),
)
#: Sentinel rank for "pair not in the table" — strictly above every
#: real rank, so array_min picks a real merge iff one applies.
BPE_RANK_MAX = len(BPE_MERGES) + 1


def _bpe_keys_lit(d: str) -> str:
    items = ", ".join(f"'{a} {b}'" for a, b in BPE_MERGES)
    return f"array({items})" if d == x.SPARK else f"[{items}]"


def bpe_rank_expr(pair: str, d: str) -> str:
    """1-based merge rank of a ``'left right'`` pair key, or
    BPE_RANK_MAX when the pair is not in the table. Both engines'
    position functions signal a miss as 0 (DuckDB 1.x switched from
    NULL to 0 — probed), so both normalize via NULLIF + COALESCE."""
    if d == x.SPARK:
        return (
            f"COALESCE(NULLIF(array_position({_bpe_keys_lit(d)}, {pair}), 0),"
            f" CAST({BPE_RANK_MAX} AS BIGINT))"
        )
    return (
        f"COALESCE(NULLIF(list_position({_bpe_keys_lit(d)}, {pair}), 0),"
        f" {BPE_RANK_MAX})"
    )


def bpe_walk_expr(w: str, d: str) -> str:
    """BPE inference on one word (Sennrich et al. 2016,
    arXiv:1508.07909; the GPT-2 tokenizer's merge loop, Radford et al.
    2019): start from the character sequence and repeatedly merge the
    LEFTMOST occurrence of the lowest-rank adjacent pair until no pair
    is in the merge table. Returns the final pieces array<string>.

    The recurrence differs from :func:`subword_walk_expr`'s greedy
    longest-match walk in kind, not just vocab: BPE is an ITERATIVE
    PAIR-MERGE ordered by a frozen rank table — a different tokenizer
    family (GPT) from WordPiece (BERT). One-at-a-time leftmost
    merging equals classic merge-all-occurrences BPE on a bottom-up
    consistent table (see BPE_MERGES).

    Fold shape: a word of L chars admits at most L-1 merges, so the
    walk is ``aggregate(sequence of L-1 steps, chars, step)`` with the
    no-pair state as the identity — same bounded-left-fold pattern as
    the subword walk, SPARK DIALECT ONLY for the same reason
    (list_reduce mis-vectorizes in DuckDB 1.0; the oracle walks the
    identical recurrence as a recursive CTE,
    :func:`bpe_segment_oracle_sql`). Entirely scan-local: no shuffle,
    no Python, O(L^2) worst-case per word inside codegen."""
    if d != x.SPARK:
        raise ValueError(
            "bpe_walk_expr is Spark-only: use the recursive-CTE oracle "
            "(bpe_segment_oracle_sql)"
        )
    chars = (
        f"transform(sequence(1, length({w})), _ci -> "
        f"substring({w}, _ci, 1))"
    )
    pair = "concat(acc[_i], ' ', acc[_i + 1])"
    ranks = x.xform(
        x.zero_range("(size(acc) - 1)", d), "_i", bpe_rank_expr(pair, d), d
    )
    merged = (
        "concat(slice(acc, 1, _j), "
        "array(concat(acc[_j], acc[_j + 1])), "
        "slice(acc, _j + 3, size(acc) - _j - 2))"
    )
    pick_j = "CAST(array_position(_r, array_min(_r)) - 1 AS INT)"
    step = x.let(
        ranks,
        "_r",
        f"CASE WHEN size(acc) < 2 OR array_min(_r) >= {BPE_RANK_MAX} "
        f"THEN acc ELSE {x.let(pick_j, '_j', merged, d)} END",
        d,
    )
    return (
        f"aggregate({x.zero_range(f'(length({w}) - 1)', d)}, "
        f"{chars}, (acc, _it) -> {step})"
    )


def bpe_doc_expr(text_col: str, d: str) -> str:
    """Per-document BPE stats as ONE struct expression (Spark-only):
    (n_words, n_pieces, seg_fp) — seg_fp = Σ_words h60(pieces joined
    by ' ') % SUBWORD_FP_MOD, which pins the exact segmentation (a
    space can never occur inside a piece, so the join is injective)."""
    joined = "concat_ws(' ', _bp)"
    word_stats = x.let(
        bpe_walk_expr("_w", d),
        "_bp",
        "named_struct('cnt', CAST(size(_bp) AS BIGINT), "
        f"'fp', ({x.h60(joined, d)} % {SUBWORD_FP_MOD}))",
        d,
    )
    walk = x.xform("_ws", "_w", word_stats, d)
    body = (
        "named_struct('n_words', CAST(size(_ws) AS BIGINT), "
        f"'n_pieces', {x.xsum_int(x.xform('_segs', '_s', '_s.cnt', d), d)}, "
        f"'seg_fp', {x.xsum_int(x.xform('_segs', '_s', '_s.fp', d), d)})"
    )
    inner = x.let(walk, "_segs", body, d)
    return x.let(x.tokens(text_col, d), "_ws", inner, d)


def bpe_segment_expr_form(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The r15–r18 pure-expression-tree form of :func:`bpe_segment`
    (an O(L²) ``aggregate`` fold per word). Kept as the reference twin
    for the Arrow-batched hot path (r19); tests/test_properties.py pins
    both forms equal on the fixture corpus."""
    s = x.SPARK
    return df.selectExpr(
        id_col, f"{bpe_doc_expr(text_col, s)} AS _bw"
    ).selectExpr(
        id_col,
        "_bw.n_words AS n_words",
        "_bw.n_pieces AS n_pieces",
        "_bw.seg_fp AS seg_fp",
        "CASE WHEN _bw.n_words > 0 THEN (CAST(1000 AS BIGINT) * _bw.n_pieces)"
        " DIV _bw.n_words ELSE CAST(0 AS BIGINT) END AS pieces_per_word_x1000",
    )


def bpe_segment(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """BPE merge-rank segmentation stats per document — the GPT-family
    third budget basis next to whitespace counts (doc_stats) and the
    WordPiece-style greedy walk (:func:`subword_segment`). Empty docs
    report zero counts.

    Execution (r19, guide §4.2/§4.5): Arrow-batched ``mapInPandas``
    running the identical leftmost-lowest-rank merge recurrence in
    Python (see :func:`_segment_map_in_pandas`) — the SQL ``aggregate``
    fold it replaced (:func:`bpe_segment_expr_form`, kept as the
    equivalence twin) executed O(L²) interpreted lambda steps per word
    and was the registry's single largest per-task-work item (9.7 s
    Spark-only at sf0.1, r18 verdict task 1). Still zero shuffles and
    scan-local; only (id, text) cross the Python boundary.

    Returns (doc_id, n_words, n_pieces, seg_fp,
    pieces_per_word_x1000)."""
    return _segment_map_in_pandas(
        df,
        text_col,
        (id_col,),
        ("n_words", "n_pieces", "seg_fp", "pieces_per_word_x1000"),
        _bpe_doc_fn,
    )


def _bpe_walk_ctes(table: str, text_col: str, id_col: str) -> str:
    """Shared recursive-CTE BPE walk (g/words/walk/done): one row per
    (doc, word) state carrying the current pieces LIST, merging the
    leftmost lowest-rank pair per recursion step until no pair is in
    the merge table — the same recurrence as Spark's aggregate fold.
    ``done`` holds exactly one final row per word."""
    d = x.DUCK
    keys = _bpe_keys_lit(d)
    ranks = (
        f"list_transform(range(1, len(p)), _i -> "
        f"COALESCE(NULLIF(list_position({keys}, p[_i] || ' ' || p[_i + 1]),"
        f" 0), {BPE_RANK_MAX}))"
    )
    merged = (
        "p[1:j - 1] || [p[j] || p[j + 1]] || p[j + 2:]"
    )
    return f"""g AS (
  SELECT {id_col}, {x.tokens(text_col, d)} AS _ws FROM {table}
), words AS (
  SELECT {id_col}, UNNEST(_ws) AS w,
         UNNEST(range(1, len(_ws) + 1)) AS wi
  FROM g
), walk AS (
  SELECT {id_col}, wi,
         list_transform(range(1, length(w) + 1),
                        _ci -> substr(w, CAST(_ci AS INT), 1)) AS p
  FROM words
  UNION ALL
  SELECT {id_col}, wi, {merged} AS p
  FROM (
    SELECT {id_col}, wi, p,
           CAST(list_position(r, list_min(r)) AS INT) AS j,
           list_min(r) AS best
    FROM (SELECT {id_col}, wi, p, {ranks} AS r FROM walk WHERE len(p) >= 2) s0
  ) s
  WHERE best < {BPE_RANK_MAX}
), fin AS (
  SELECT {id_col}, wi, p, {ranks} AS r FROM walk
), done AS (
  SELECT {id_col}, wi, p FROM fin
  WHERE len(p) < 2 OR list_min(r) >= {BPE_RANK_MAX}
)"""


def bpe_segment_oracle_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB mirror of :func:`bpe_segment` as a RECURSIVE CTE over
    list-valued state — same leftmost-lowest-rank recurrence, same
    piece fingerprint (md5 of the space-joined pieces)."""
    d = x.DUCK
    joined = "array_to_string(p, ' ')"
    fp = f"({x.h60(joined, d)} % {SUBWORD_FP_MOD})"
    return f"""
WITH RECURSIVE {_bpe_walk_ctes(table, text_col, id_col)}, per_doc AS (
  SELECT {id_col},
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(len(p)) AS BIGINT) AS n_pieces,
         CAST(SUM({fp}) AS BIGINT) AS seg_fp
  FROM done GROUP BY 1
)
SELECT g.{id_col},
       COALESCE(p.n_words, 0) AS n_words,
       COALESCE(p.n_pieces, 0) AS n_pieces,
       COALESCE(p.seg_fp, 0) AS seg_fp,
       CASE WHEN COALESCE(p.n_words, 0) > 0
            THEN (CAST(1000 AS BIGINT) * p.n_pieces) // p.n_words
            ELSE CAST(0 AS BIGINT) END AS pieces_per_word_x1000
FROM g LEFT JOIN per_doc p USING ({id_col})
"""


def bpe_token_counts_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: str = "source",
) -> str:
    """(id, extra_cols, n_bpe_tokens) per document — the BPE budget
    basis, composing under another oracle's FROM clause exactly like
    :func:`subword_token_counts_oracle_sql`."""
    ec = (
        f"t.{', t.'.join(c.strip() for c in extra_cols.split(','))}, "
        if extra_cols
        else ""
    )
    return f"""(
WITH RECURSIVE {_bpe_walk_ctes(table, text_col, id_col)}, per_doc AS (
  SELECT {id_col}, CAST(SUM(len(p)) AS BIGINT) AS n_bpe_tokens
  FROM done GROUP BY 1
)
SELECT t.{id_col}, {ec}COALESCE(p.n_bpe_tokens, 0) AS n_bpe_tokens
FROM {table} t LEFT JOIN per_doc p USING ({id_col})
) bp"""


# -- Arrow-batched tokenizer execution (r19, guide §4.2/§4.5) -------------------
#
# The subword/BPE walks above are pure per-word recurrences. r15–r18
# executed them as Spark SQL ``aggregate`` folds: scan-local and
# shuffle-free, but higher-order-function lambdas run INTERPRETED per
# element (no codegen inside the fold), so the BPE walk paid O(L²)
# interpreted steps per word — 9.7 s Spark-only at sf0.1, the largest
# per-task-work item in the registry (r18 verdict task 1, guide §4.2:
# do the heavy lifting batch-native). The functions below run the
# IDENTICAL recurrences in Python behind an Arrow-batched
# ``mapInPandas``: one interpreter entry per record batch (no per-row
# pickling), the vocab set / merge-rank dict plus a per-task
# word→stats memo built once per task (§4.5 — every walk is a pure
# function of the word, so memoizing within a task is just CSE, not
# cross-run caching), and only the columns the walk needs cross the
# boundary (§4.1). Equivalence is pinned three ways: the recursive-CTE
# DuckDB oracles (unchanged), the pure-Python property models
# (tests/test_properties.py), and the retained expression-tree twins
# (`subword_segment_expr_form` / `bpe_segment_expr_form`) which
# tests compare row-for-row on the fixture corpus.

#: Python mirror of the Spark/Java ``\\s`` class used by
#: :func:`xdialect.tokens` — Java's default (non-UNICODE) ``\\s`` is
#: exactly [ \\t\\n\\x0B\\f\\r]; Python's ``\\s`` would additionally
#: split on Unicode spaces and silently change tokenization.
_JAVA_WS_RE = __import__("re").compile(r"[ \t\n\x0b\f\r]+")


def _py_tokens(text: str | None) -> list[str] | None:
    """Python mirror of ``x.tokens(col, SPARK)`` = ``filter(split(
    trim(lower(col)), '\\\\s+'), t -> t != '')``: lowercase, split on
    Java whitespace runs, drop empty tokens (the trim only ever
    removes tokens the empty-filter drops anyway). ``None`` propagates
    like SQL NULL."""
    if text is None:
        return None
    return [t for t in _JAVA_WS_RE.split(text.lower()) if t]


def _subword_word_stats():
    """Per-task word→(cnt, unk, fp) walker for the greedy longest-match
    recurrence of :func:`subword_walk_expr` (same states, same
    fingerprint fold)."""
    vocab = frozenset(SUBWORD_VOCAB)
    maxp = SUBWORD_MAX_PIECE
    mod = SUBWORD_FP_MOD
    memo: dict[str, tuple[int, int, int]] = {}

    def stats(wd: str) -> tuple[int, int, int]:
        st = memo.get(wd)
        if st is None:
            pos, cnt, unk, fp = 1, 0, 0, 0
            L = len(wd)
            while pos <= L:
                for n in range(min(maxp, L - pos + 1), 0, -1):
                    if wd[pos - 1 : pos - 1 + n] in vocab:
                        pos += n
                        cnt += 1
                        fp = (fp * 31 + pos) % mod
                        break
                else:
                    # out-of-vocab char: the whole remainder is one [UNK]
                    cnt, unk, pos = cnt + 1, unk + 1, L + 1
                    fp = (fp * 31 + L + 1) % mod
            st = memo[wd] = (cnt, unk, fp)
        return st

    return stats


def _bpe_word_stats():
    """Per-task word→(n_pieces, fp) walker for the leftmost-lowest-rank
    merge recurrence of :func:`bpe_walk_expr` (same tie rule: scanning
    ascending with strict less keeps the LEFTMOST occurrence of the
    minimum rank; fp = h60 of the space-joined pieces % mod, exactly
    ``x.h60`` = int(md5 hex prefix 15, 16))."""
    import hashlib

    ranks = {(a, b): i + 1 for i, (a, b) in enumerate(BPE_MERGES)}
    rank_max = BPE_RANK_MAX
    mod = SUBWORD_FP_MOD
    memo: dict[str, tuple[int, int]] = {}

    def stats(wd: str) -> tuple[int, int]:
        st = memo.get(wd)
        if st is None:
            p = list(wd)
            while len(p) >= 2:
                best, j = rank_max, -1
                for i in range(len(p) - 1):
                    r = ranks.get((p[i], p[i + 1]), rank_max)
                    if r < best:
                        best, j = r, i
                if best >= rank_max:
                    break
                p[j : j + 2] = [p[j] + p[j + 1]]
            fp = (
                int(hashlib.md5(" ".join(p).encode()).hexdigest()[:15], 16)
                % mod
            )
            st = memo[wd] = (len(p), fp)
        return st

    return stats


def _subword_doc_fn():
    """text → (n_words, n_pieces, n_unk_words, seg_fp,
    pieces_per_word_x1000), mirroring :func:`subword_doc_expr` + the
    final projection of :func:`subword_segment` including NULL
    semantics (NULL text → NULL stats, ppw 0 — the CASE's ELSE)."""
    word_stats = _subword_word_stats()

    def doc(text):
        ws = _py_tokens(text)
        if ws is None:
            return (None, None, None, None, 0)
        cnt = unk = fp = 0
        for w in ws:
            c, u, f = word_stats(w)
            cnt += c
            unk += u
            fp += f
        n = len(ws)
        return (n, cnt, unk, fp, (1000 * cnt) // n if n else 0)

    return doc


def _bpe_doc_fn():
    """text → (n_words, n_pieces, seg_fp, pieces_per_word_x1000),
    mirroring :func:`bpe_doc_expr` + :func:`bpe_segment`'s projection
    including NULL semantics."""
    word_stats = _bpe_word_stats()

    def doc(text):
        ws = _py_tokens(text)
        if ws is None:
            return (None, None, None, 0)
        cnt = fp = 0
        for w in ws:
            c, f = word_stats(w)
            cnt += c
            fp += f
        n = len(ws)
        return (n, cnt, fp, (1000 * cnt) // n if n else 0)

    return doc


def _segment_map_in_pandas(
    df: DataFrame,
    text_col: str,
    keep_cols: tuple[str, ...],
    out_cols: tuple[str, ...],
    make_doc_fn,
) -> DataFrame:
    """Shared Arrow-batched walk driver: select ONLY keep_cols +
    text_col before the opaque function (guide §4.1 — mapInPandas
    defeats column pruning, so prune explicitly), build the walker
    once per task (§4.5), emit keep_cols + bigint stat columns. Row
    order and partitioning are preserved (narrow, no exchange), so the
    plan stays zero-shuffle like the expression form it replaced."""
    dtypes = dict(df.dtypes)
    schema = ", ".join(
        [f"`{c}` {dtypes[c]}" for c in keep_cols]
        + [f"{c} bigint" for c in out_cols]
    )

    def run(batches):
        doc_fn = make_doc_fn()
        for pdf in batches:
            out = pdf[list(keep_cols)].copy()
            stats = [doc_fn(t) for t in pdf[text_col]]
            for i, c in enumerate(out_cols):
                out[c] = [s[i] for s in stats]
            yield out

    return df.select(*keep_cols, text_col).mapInPandas(run, schema)


def subword_token_counts(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("doc_id", "source"),
    out_col: str = "n_subword_tokens",
) -> DataFrame:
    """(keep_cols, out_col = greedy-subword piece count) per document —
    the Arrow-batched twin of ``subword_doc_expr(...).n_pieces``.
    NULL text → NULL count, like the struct field access it mirrors.

    Registered queries do NOT use this form (r19 measured: on the
    fixture's short texts the O(L·max_piece) greedy walk is cheaper in
    the expression tree than the Python boundary round trip — 0.58 s vs
    0.68–0.84 s for token_budget_mixture_subword). It exists as the
    documented crossover option for long-document corpora, pinned
    equal to the expression form by tests."""

    def make():
        word_stats = _subword_word_stats()

        def doc(text):
            ws = _py_tokens(text)
            if ws is None:
                return (None,)
            return (sum(word_stats(w)[0] for w in ws),)

        return doc

    return _segment_map_in_pandas(df, text_col, keep_cols, (out_col,), make)


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("doc_id", "source"),
    out_col: str = "n_bpe_tokens",
) -> DataFrame:
    """(keep_cols, out_col = BPE piece count) per document — the
    Arrow-batched budget basis for token_budget_mixture_bpe (was
    ``bpe_doc_expr(...).n_pieces``)."""

    def make():
        word_stats = _bpe_word_stats()

        def doc(text):
            ws = _py_tokens(text)
            if ws is None:
                return (None,)
            return (sum(word_stats(w)[0] for w in ws),)

        return doc

    return _segment_map_in_pandas(df, text_col, keep_cols, (out_col,), make)


# -- interpolated Kneser-Ney bigram LM -----------------------------------------

#: Kneser-Ney absolute discount D = 3/4 as an exact rational (num,
#: den): the standard 0.75 used when the Chen & Goodman (1998)
#: count-of-counts estimate is not being fit. Rational, so the KN
#: probability stays a single integer fraction.
KN_DISCOUNT = (3, 4)


def kn_bigram_surprisal(
    df: DataFrame,
    scale: int = SURPRISAL_SCALE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc mean surprisal under an INTERPOLATED KNESER-NEY bigram
    LM (Kneser & Ney 1995; Chen & Goodman 1998 — the KenLM-style
    smoothing CCNet's perplexity filter actually ships, upgrading the
    add-one-smoothed bigram twin above):

        P_KN(w2|w1) = (c12 - D)/c1 + D·N1+(w1,·)/c1 · N1+(·,w2)/N1+(··)

    with D = 3/4, c12 = bigram count, c1 = w1's prefix occurrences,
    N1+(w1,·) = w1's distinct continuations, N1+(·,w2) = w2's distinct
    CONTEXTS (the continuation probability — "how many different
    prefixes license w2", the insight that demotes 'francisco'-style
    words frequent only in one context), N1+(··) = distinct bigram
    types. Scoring the corpus under its own LM means c12 >= 1, so the
    max(·,0) clamp never binds and P_KN is the single exact fraction

        ((4·c12 - 3)·Nbi + 3·N1p·Ncont) / (4·c1·Nbi)

    whose floor-log2 is :func:`xdialect.floor_log2_ratio` — the same
    1-bit-grain integer quantization as the whole LM family (P_KN <= 1
    because KN is a proper distribution, so the surprisal is
    non-negative). Per-doc score = fixed-point occurrence-weighted
    mean; head/middle/tail at cumulative-histogram tercile cutpoints.
    Docs with < 2 tokens have no bigram positions and are excluded.

    Scale shape: ONE positional-bigram explode (pinned) feeds all four
    count aggregates (per-doc tf, c12 by bigram, (c1, N1p) by prefix —
    one aggregate, two measures, Ncont by suffix); the (Nbi, n_docs)
    constants ride one broadcast 1-row frame; the probe joins are
    term-keyed equi-joins; the histogram trick keeps the tercile
    cutpoints off any corpus-sized sort.

    BIGINT headroom: 4·c1·Nbi <= 4·T·B where T = corpus tokens, B =
    distinct bigram types (B <= T); at sf0.1 (~5·10^5 tokens) that is
    ~10^12, five orders under the 9.2·10^18 ceiling. The product
    crosses BIGINT near T ~ 1.5·10^9 tokens per LM shard — at 100 TB
    partition the LM by language/domain shard (the production shape
    anyway) or move the two factors into DECIMAL(38,0).

    Returns (doc_id, n_bigrams, surprisal_scaled, surprisal, bucket).
    """
    from pyspark.sql.window import Window

    s = x.SPARK
    dn, dd = KN_DISCOUNT
    tok = x.tokens(text_col, s)
    bg = x.let(tok, "_t", _bigram_list_expr("_t", s), s)
    g = df.selectExpr(
        id_col, f"{bg} AS _bg"
    ).selectExpr(
        id_col, f"CAST({x.xsize('_bg', s)} AS BIGINT) AS nb", "_bg"
    ).filter("nb > 0")
    ex = pin(
        g.select(id_col, "nb", F.explode("_bg").alias("bg"))
        .selectExpr(
            id_col, "nb", "bg",
            "split(bg, ' ')[0] AS w1", "split(bg, ' ')[1] AS w2",
        )
    )
    tf = ex.groupBy(id_col, "nb", "bg").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    c12 = ex.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    pre = ex.groupBy("w1").agg(
        F.count(F.lit(1)).cast("long").alias("c1"),
        F.countDistinct("w2").cast("long").alias("n1p"),
    )
    cont = ex.groupBy("w2").agg(
        F.countDistinct("w1").cast("long").alias("ncont")
    )
    consts = ex.agg(F.countDistinct("bg").cast("long").alias("nbi")).crossJoin(
        g.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    # re-derive w1/w2 on the tf frame (split of the grouped key) so the
    # prefix/suffix joins don't need them in the aggregate key
    keyed = tf.selectExpr(
        id_col, "nb", "bg", "tf",
        "split(bg, ' ')[0] AS w1", "split(bg, ' ')[1] AS w2",
    )
    qsurp = x.floor_log2_ratio(
        f"{dd} * c1 * nbi",
        f"({dd} * c12 - {dn}) * nbi + {dn} * n1p * ncont",
        s,
    )
    docsc = pin(
        keyed.join(c12, on="bg")
        .join(pre, on="w1")
        .join(cont, on="w2")
        .crossJoin(F.broadcast(consts))
        .groupBy(id_col, "nb", "n_docs")
        .agg(F.sum(F.expr(f"tf * CAST({qsurp} AS BIGINT)")).alias("_sq"))
        .selectExpr(
            id_col,
            "nb AS n_bigrams",
            "n_docs",
            f"(CAST({scale} AS BIGINT) * _sq) DIV nb AS surprisal_scaled",
        )
    )
    hist = docsc.groupBy("surprisal_scaled", "n_docs").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cw = Window.orderBy("surprisal_scaled").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    thr = (
        hist.withColumn("cum", F.sum("cnt").over(cw))
        .agg(
            F.min(
                F.when(F.col("cum") * 3 >= F.col("n_docs"), F.col("surprisal_scaled"))
            ).alias("t1"),
            F.min(
                F.when(
                    F.col("cum") * 3 >= 2 * F.col("n_docs"), F.col("surprisal_scaled")
                )
            ).alias("t2"),
        )
    )
    return docsc.crossJoin(F.broadcast(thr)).selectExpr(
        id_col,
        "n_bigrams",
        "surprisal_scaled",
        f"CAST(surprisal_scaled AS DOUBLE) / CAST({scale} AS DOUBLE) AS surprisal",
        "CASE WHEN surprisal_scaled <= t1 THEN 'head' "
        "WHEN surprisal_scaled <= t2 THEN 'middle' ELSE 'tail' END AS bucket",
    )


def kn_bigram_surprisal_oracle_sql(
    table: str = "documents",
    scale: int = SURPRISAL_SCALE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`kn_bigram_surprisal` — same exact
    KN fraction, same floor-log2, same tercile cutpoints."""
    d = x.DUCK
    dn, dd = KN_DISCOUNT
    tok = x.tokens(text_col, d)
    bg = x.let(tok, "_t", _bigram_list_expr("_t", d), d)
    qsurp = x.floor_log2_ratio(
        f"{dd} * c1.c1 * tot.nbi",
        f"({dd} * c12.c12 - {dn}) * tot.nbi + {dn} * c1.n1p * cont.ncont",
        d,
    )
    return f"""
WITH g0 AS (
  SELECT {id_col}, {bg} AS _bg FROM {table}
), g AS (
  SELECT {id_col}, CAST({x.xsize('_bg', d)} AS BIGINT) AS nb, _bg FROM g0
  WHERE {x.xsize('_bg', d)} > 0
), ex AS (
  SELECT {id_col}, nb, bg,
         string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
  FROM (SELECT {id_col}, nb, UNNEST(_bg) AS bg FROM g)
), tf AS (
  SELECT {id_col}, nb, bg, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ex GROUP BY 1, 2, 3
), keyed AS (
  SELECT {id_col}, nb, bg, tf,
         string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
  FROM tf
), c12 AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM ex GROUP BY 1
), c1 AS (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1,
         CAST(COUNT(DISTINCT w2) AS BIGINT) AS n1p
  FROM ex GROUP BY 1
), cont AS (
  SELECT w2, CAST(COUNT(DISTINCT w1) AS BIGINT) AS ncont FROM ex GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(DISTINCT bg) AS BIGINT) AS nbi FROM ex
), nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM g
), docsc AS (
  SELECT keyed.{id_col}, keyed.nb AS n_bigrams, nd.n_docs,
         CAST((CAST({scale} AS BIGINT)
               * CAST(SUM(keyed.tf * CAST({qsurp} AS BIGINT)) AS BIGINT))
           // keyed.nb AS BIGINT) AS surprisal_scaled
  FROM keyed JOIN c12 USING (bg) JOIN c1 USING (w1) JOIN cont USING (w2)
  CROSS JOIN tot CROSS JOIN nd
  GROUP BY 1, 2, 3
), hist AS (
  SELECT surprisal_scaled, n_docs, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM docsc GROUP BY 1, 2
), cum AS (
  SELECT surprisal_scaled, n_docs,
         SUM(cnt) OVER (ORDER BY surprisal_scaled
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
), thr AS (
  SELECT MIN(CASE WHEN cum * 3 >= n_docs THEN surprisal_scaled END) AS t1,
         MIN(CASE WHEN cum * 3 >= 2 * n_docs THEN surprisal_scaled END) AS t2
  FROM cum
)
SELECT d.{id_col}, d.n_bigrams, d.surprisal_scaled,
       CAST(d.surprisal_scaled AS DOUBLE) / CAST({scale} AS DOUBLE) AS surprisal,
       CASE WHEN d.surprisal_scaled <= thr.t1 THEN 'head'
            WHEN d.surprisal_scaled <= thr.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM docsc d CROSS JOIN thr
"""


# -- composite quality gate ----------------------------------------------------

def quality_gate(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The FineWeb/CCNet-style COMPOSITE curation gate — the three
    standard quality signals, each already an operator here, joined
    into one per-document keep decision (the form a crawl-curation
    pipeline actually ships: structural gate AND model gate AND
    perplexity gate):

    1. Gopher structural flags (:func:`gopher_quality` — per-row, no
       shuffle): token-count bounds, mean word length, repeated-bigram
       ratio;
    2. fastText-shape classifier keep
       (:func:`quality_classifier_score` — broadcast model join + one
       aggregate): logit >= 0;
    3. CCNet perplexity bucket (:func:`ccnet_surprisal_buckets` —
       corpus-relative tercile): not 'tail'.

    Scale shape: branch 1 is scan-local; branches 2 and 3 end in
    per-doc frames that join back on the id key (AQE-planned
    equi-joins; at 100 TB pre-partition the corpus by the id key once
    and all three branches plus the joins co-locate). Empty docs are
    excluded from branches 2-3 by construction and fail the composite
    via the COALESCEd flags (Gopher's n >= 30 already rejects them).

    Returns (doc_id, keep_gopher, keep_classifier, ppl_bucket, keep)
    with 0/1 BIGINT flags ('none' bucket for docs absent from the
    perplexity branch).
    """
    base = gopher_quality(df, text_col, id_col).select(
        id_col, F.col("keep").alias("keep_gopher")
    )
    clf = quality_classifier_score(df, text_col, id_col).selectExpr(
        id_col,
        "CAST(CASE WHEN keep THEN 1 ELSE 0 END AS BIGINT) AS keep_classifier",
    )
    ppl = ccnet_surprisal_buckets(df, text_col=text_col, id_col=id_col).select(
        id_col, F.col("bucket").alias("ppl_bucket")
    )
    return (
        base.join(clf, on=id_col, how="left")
        .join(ppl, on=id_col, how="left")
        .selectExpr(
            id_col,
            "keep_gopher",
            "COALESCE(keep_classifier, CAST(0 AS BIGINT)) AS keep_classifier",
            "COALESCE(ppl_bucket, 'none') AS ppl_bucket",
            "CAST(CASE WHEN keep_gopher = 1 "
            "AND COALESCE(keep_classifier, 0) = 1 "
            "AND COALESCE(ppl_bucket, 'none') IN ('head', 'middle') "
            "THEN 1 ELSE 0 END AS BIGINT) AS keep",
        )
    )


def quality_gate_oracle_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB mirror of :func:`quality_gate`: the three branch oracles
    (each already bit-exact on its own) embedded as subqueries and
    joined the same way."""
    d = x.DUCK
    gq = gopher_quality_exprs(text_col, d, tok="_tok")["keep"]
    staged = (
        f"SELECT {id_col}, {text_col}, "
        f"{x.tokens(text_col, d)} AS _tok FROM {table}"
    )
    clf = quality_classifier_score_oracle_sql(table, text_col, id_col)
    ppl = ccnet_surprisal_buckets_oracle_sql(table, text_col=text_col, id_col=id_col)
    return f"""
WITH gop AS (
  SELECT {id_col}, {gq} AS keep_gopher FROM ({staged})
), clf AS (
  SELECT {id_col},
         CAST(CASE WHEN keep THEN 1 ELSE 0 END AS BIGINT) AS keep_classifier
  FROM ({clf}) c
), ppl AS (
  SELECT {id_col}, bucket AS ppl_bucket FROM ({ppl}) p
)
SELECT g.{id_col},
       g.keep_gopher,
       COALESCE(c.keep_classifier, CAST(0 AS BIGINT)) AS keep_classifier,
       COALESCE(p.ppl_bucket, 'none') AS ppl_bucket,
       CAST(CASE WHEN g.keep_gopher = 1
            AND COALESCE(c.keep_classifier, 0) = 1
            AND COALESCE(p.ppl_bucket, 'none') IN ('head', 'middle')
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM gop g
LEFT JOIN clf c USING ({id_col})
LEFT JOIN ppl p USING ({id_col})
"""


# -- multiclass language classifier (fastText langid shape) ---------------------

def langclf_weight_expr(bucket: str, lang: str, d: str) -> str:
    """Frozen per-(bucket, language) weight, shifted non-negative —
    the multiclass sibling of :func:`qclf_weight_expr` (same derived
    stand-in framing: production loads its trained fastText langid
    matrix into a table with this (bucket, weights[lang]) schema and
    the plan is unchanged)."""
    if d == x.SPARK:
        h = x.h60(f"concat('langclf-{lang}-', CAST({bucket} AS STRING))", d)
    else:
        h = x.h60(f"('langclf-{lang}-' || CAST({bucket} AS VARCHAR))", d)
    return f"({h} % {2 * QCLF_W_SCALE + 1})"


def lang_classifier_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = QCLF_N_BUCKETS,
) -> DataFrame:
    """Multiclass linear language identification — the fastText-langid
    model shape (Joulin et al. 2016; the model CCNet actually gates
    with, upgrading the profile-overlap heuristic in
    :func:`lang_score_exprs` to real inference): hashed unigram+bigram
    features, a broadcast (bucket, per-language weight vector) model
    table, one fixed-point mean logit PER LANGUAGE, deterministic
    argmax with the fixed LANGS precedence for exact ties, and the
    integer top-two margin as the confidence signal (monotone in the
    softmax gap, so thresholding the margin IS thresholding softmax
    confidence — no float exp anywhere).

    Scale shape: identical to :func:`quality_classifier_score` — one
    explode, one broadcast model join (the per-language weights ride
    ONE array column, so model rows stay n_buckets regardless of
    language count), one per-doc aggregate with |LANGS| sum measures.
    Weights are the derived h60 stand-in (see
    :func:`langclf_weight_expr`).

    Returns (doc_id, n_feats, pred_lang, best_scaled, margin_scaled).
    """
    s = x.SPARK
    feats = qclf_feature_buckets_expr(text_col, s, n_buckets)
    g = df.selectExpr(id_col, f"{feats} AS _f").selectExpr(
        id_col, f"CAST({x.xsize('_f', s)} AS BIGINT) AS n_feats", "_f"
    ).filter("n_feats > 0")
    ex = g.select(id_col, "n_feats", F.explode("_f").alias("b"))
    spark = df.sparkSession
    w_arr = ", ".join(
        f"CAST({langclf_weight_expr('id', lang, s)} AS BIGINT)"
        for lang in LANGS
    )
    w = spark.range(n_buckets).selectExpr("id AS b", f"array({w_arr}) AS ws")
    sums = [
        F.sum(F.expr(f"ws[{i}]")).cast("long").alias(f"sw_{lang}")
        for i, lang in enumerate(LANGS)
    ]
    summed = ex.join(F.broadcast(w), on="b").groupBy(id_col, "n_feats").agg(*sums)
    logits = [
        f"(CAST({QCLF_SIG_SCALE} AS BIGINT) * sw_{lang})"
        f" DIV (n_feats * {QCLF_W_SCALE}) - {QCLF_SIG_SCALE} AS lg_{lang}"
        for lang in LANGS
    ]
    cases = []
    for lang in LANGS:
        cond = " AND ".join(
            f"lg_{lang} >= lg_{o}" for o in LANGS if o != lang
        )
        cases.append(f"WHEN {cond} THEN '{lang}'")
    argmax = "CASE " + " ".join(cases) + " END"
    all_lg = ", ".join(f"lg_{lang}" for lang in LANGS)
    # top-two via sorted indexing (tie-safe: two languages sharing the
    # max give margin 0, where a remove-the-max form would strip both)
    n = len(LANGS)
    srt = f"array_sort(array({all_lg}))"
    return (
        summed.selectExpr(id_col, "n_feats", *logits)
        .selectExpr(
            id_col,
            "n_feats",
            f"{argmax} AS pred_lang",
            f"{srt}[{n - 1}] AS best_scaled",
            f"{srt}[{n - 1}] - {srt}[{n - 2}] AS margin_scaled",
        )
    )


def lang_classifier_scores_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = QCLF_N_BUCKETS,
) -> str:
    """DuckDB mirror of :func:`lang_classifier_scores` — same derived
    weight matrix, same fixed-point per-language logits, same
    precedence argmax and top-two margin."""
    d = x.DUCK
    feats = qclf_feature_buckets_expr(text_col, d, n_buckets)
    w_cols = ",\n         ".join(
        f"CAST({langclf_weight_expr('b', lang, d)} AS BIGINT) AS w_{lang}"
        for lang in LANGS
    )
    sums = ",\n         ".join(
        f"CAST(SUM(w.w_{lang}) AS BIGINT) AS sw_{lang}" for lang in LANGS
    )
    logits = ",\n         ".join(
        f"(CAST({QCLF_SIG_SCALE} AS BIGINT) * sw_{lang})"
        f" // (n_feats * {QCLF_W_SCALE}) - {QCLF_SIG_SCALE} AS lg_{lang}"
        for lang in LANGS
    )
    cases = []
    for lang in LANGS:
        cond = " AND ".join(f"lg_{lang} >= lg_{o}" for o in LANGS if o != lang)
        cases.append(f"WHEN {cond} THEN '{lang}'")
    argmax = "CASE " + " ".join(cases) + " END"
    all_lg = ", ".join(f"lg_{lang}" for lang in LANGS)
    n = len(LANGS)
    best = f"list_sort([{all_lg}])[{n}]"
    second = f"list_sort([{all_lg}])[{n - 1}]"
    return f"""
WITH g AS (
  SELECT {id_col}, {feats} AS _f FROM {table}
), gg AS (
  SELECT {id_col}, CAST({x.xsize('_f', d)} AS BIGINT) AS n_feats, _f
  FROM g WHERE {x.xsize('_f', d)} > 0
), ex AS (
  SELECT {id_col}, n_feats, UNNEST(_f) AS b
  FROM gg
), w AS (
  SELECT b,
         {w_cols}
  FROM range({n_buckets}) t(b)
), summed AS (
  SELECT ex.{id_col}, ex.n_feats,
         {sums}
  FROM ex JOIN w USING (b)
  GROUP BY 1, 2
), lg AS (
  SELECT {id_col}, n_feats,
         {logits}
  FROM summed
)
SELECT {id_col}, n_feats,
       {argmax} AS pred_lang,
       {best} AS best_scaled,
       {best} - {second} AS margin_scaled
FROM lg
"""
