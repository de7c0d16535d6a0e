"""Text-analysis operators for LLM training-data pipelines over the
``documents`` table: tokenization stats, BPE-ish token counting,
language-ID heuristics, quality scoring, and rolling-hash document
fingerprints.

All hot-path expressions are JVM built-ins (split/regexp/transform/
aggregate) — no Python UDFs — so they stay inside whole-stage codegen
and scale linearly with document count. Hashes are md5-derived 60-bit
ints (``conv(substr(md5(x),1,15),16,10)``), portable to the DuckDB
oracle via hex-string casts, unlike engine-specific ``hash()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load, spread

STOPWORDS = ("the", "a", "of", "to", "in", "and", "is", "on")
_SQL_STOPLIST = ", ".join(f"'{w}'" for w in STOPWORDS)

_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _words(col) -> Column:
    return F.split(col, " ")


def md5_hash60(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex digits of md5 as a long."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_md5_hash60(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


@register(
    "text_stats",
    oracle="""
SELECT doc_id,
       LENGTH(text) AS n_chars,
       LEN(string_split(text, ' ')) AS n_tokens,
       LEN(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
         / LEN(string_split(text, ' ')) AS avg_token_len,
       LEN(list_filter(string_split(text, ' '),
                       t -> t IN (""" + _SQL_STOPLIST + """))) AS n_stopwords
FROM documents
""",
    doc="Per-document token statistics — all codegen'd array exprs.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(w)
        ).alias("avg_token_len"),
        F.size(F.filter(w, lambda t: t.isin(*STOPWORDS))).alias("n_stopwords"),
    )


@register(
    "text_token_count_bpe",
    oracle=f"""
SELECT doc_id,
       LEN(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_bpe_tokens,
       CAST(LENGTH(text) AS DOUBLE)
         / LEN(regexp_extract_all(text, '{_TOKEN_RE}')) AS chars_per_token
FROM documents
""",
    doc="BPE-ish token counting via a regex lexer (letters / digits / "
    "other), the standard cheap token-budget estimator.",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), 0)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        (F.length("text").cast("double") / F.size(toks)).alias("chars_per_token"),
    )


@register(
    "text_lang_id",
    oracle="""
SELECT doc_id, lang,
       CAST(LEN(list_filter(string_split(text, ' '),
                            t -> t IN (""" + _SQL_STOPLIST + """))) AS DOUBLE)
         / LEN(string_split(text, ' ')) AS en_ratio,
       CASE WHEN CAST(LEN(list_filter(string_split(text, ' '),
                                      t -> t IN (""" + _SQL_STOPLIST + """))) AS DOUBLE)
                 / LEN(string_split(text, ' ')) >= 0.05
            THEN 'en' ELSE 'other' END AS predicted_lang
FROM documents
""",
    doc="N-gram/stopword language-ID heuristic: English stopword density "
    "as the discriminator (real pipelines: per-language stoplists).",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    ratio = F.size(F.filter(w, lambda t: t.isin(*STOPWORDS))).cast("double") / F.size(w)
    return d.select(
        "doc_id",
        "lang",
        ratio.alias("en_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("other").alias("predicted_lang"),
    )


@register(
    "text_quality_score",
    oracle="""
WITH t AS (
  SELECT doc_id, lang,
         LEN(string_split(text, ' ')) AS n_tokens,
         LEN(list_distinct(string_split(text, ' '))) AS n_distinct
  FROM documents
)
SELECT doc_id, lang,
       0.5 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         + 0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens) AS quality,
       CASE WHEN 0.5 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                 + 0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens) >= 0.5
            THEN 'keep' ELSE 'drop' END AS verdict
FROM t
""",
    doc="Composite quality score (length saturation + lexical "
    "diversity) with a keep/drop verdict — the shape of C4/RefinedWeb-"
    "style quality filters.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    n_tokens = F.size(w)
    n_distinct = F.size(F.array_distinct(w))
    quality = 0.5 * F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) + 0.5 * (
        n_distinct.cast("double") / n_tokens
    )
    return d.select(
        "doc_id",
        "lang",
        quality.alias("quality"),
        F.when(quality >= 0.5, "keep").otherwise("drop").alias("verdict"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN LEN(string_split(text, ' ')) >= 3
              THEN list_distinct(list_transform(
                     range(1, LEN(string_split(text, ' ')) - 1),
                     i -> string_split(text, ' ')[i] || ' ' ||
                          string_split(text, ' ')[i+1] || ' ' ||
                          string_split(text, ' ')[i+2]))
              ELSE [text] END AS shingles
  FROM documents
)
SELECT doc_id,
       LEN(shingles) AS n_shingles,
       list_min(list_transform(shingles, s -> {sql_md5_hash60('s')})) AS fingerprint
FROM sh
""",
    doc="Document fingerprint: min of 60-bit hashes over word-3-gram "
    "shingles (a 1-permutation MinHash / winnowing primitive). "
    "Hash is md5-derived → bit-identical in the DuckDB oracle.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_shingles(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.size("shingles").alias("n_shingles"),
        F.array_min(
            F.transform("shingles", lambda s: md5_hash60(s))
        ).alias("fingerprint"),
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", out: str = "shingles", n: int = 3
) -> DataFrame:
    """Attach a distinct word-n-gram shingle column the FAST way.

    Higher-order functions run interpreted (outside codegen), so common
    subexpressions inside their lambdas are NOT eliminated — an inline
    ``split(text)`` would re-tokenize the document for every element
    access (O(len²) per doc). Materializing words as a column first
    makes each lambda access an O(1) attribute read; CollapseProject
    keeps the alias because it is non-cheap and multi-referenced.
    """
    from ..tables import spread

    w = F.col("__words")
    staged = spread(df).withColumn("__words", F.split(F.col(text_col), " "))
    idx = F.sequence(F.lit(0), F.size(w) - n)
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.get(w, i + k) for k in range(n)])
    )
    sh = F.when(F.size(w) >= n, F.array_distinct(grams)).otherwise(
        F.array(F.col(text_col))
    )
    return staged.withColumn(out, sh).drop("__words")


@register(
    "text_lang_distribution",
    oracle="""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents
GROUP BY lang
""",
)
def text_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition by language."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("n_chars").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))).alias(
            "avg_chars"
        ),
    )


# ------------------------------------------------------- UDTF surface

CHUNK_TOKENS = 50
CHUNK_STRIDE = 25


def _chunk_doc_udtf():
    """Python UDTF (Spark 4 user-extension surface): split a document
    into fixed-size token windows with stride — the context-window
    chunking step of an LLM training pipeline. One doc → many chunk
    rows via LATERAL correlation; Arrow-batched like any Python UDTF."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_start bigint, n_tokens int, chunk_text string",
        useArrow=True,  # ArrowEvalPythonUDTF: batched transfer, and the
        # global plan lint (tests/test_plan_lint.py) bans the pickled
        # row-at-a-time BatchEvalPython path engine-wide
    )
    class ChunkDoc:
        def eval(self, text: str):
            words = (text or "").split(" ")
            for s in range(0, len(words), CHUNK_STRIDE):
                c = words[s : s + CHUNK_TOKENS]
                yield s, len(c), " ".join(c)

    return ChunkDoc


@register(
    "text_chunk_udtf",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       unnest(range(0, LEN(w), {CHUNK_STRIDE})) AS chunk_start,
       unnest(list_transform(range(0, LEN(w), {CHUNK_STRIDE}),
              s -> LEN(list_slice(w, s + 1, s + {CHUNK_TOKENS})))) AS n_tokens,
       unnest(list_transform(range(0, LEN(w), {CHUNK_STRIDE}),
              s -> array_to_string(list_slice(w, s + 1, s + {CHUNK_TOKENS}), ' ')))
         AS chunk_text
FROM t
""",
    doc=f"Document → training chunks: {CHUNK_TOKENS}-token windows at "
    f"stride {CHUNK_STRIDE} via a Python UDTF in a LATERAL join "
    "(UDTF/UDTF-surface demo; the window math itself could be pure "
    "array exprs, the UDTF is the extension-point exercise).",
)
def text_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.udtf.register("chunk_doc", _chunk_doc_udtf())
    # spread() first: documents is a one-split scan at bench SF, which
    # would serialize the Python UDTF onto a single worker; the UDTF is
    # the expensive stage here, so fan it across cores (at real scale
    # the input arrives in many splits and this is a no-op cost-wise).
    spread(load(spark, sf_dir, "documents")).createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_start, c.n_tokens, c.chunk_text
        FROM __docs_udtf d, LATERAL chunk_doc(d.text) c
        """
    )


@register(
    "text_chunk_windows",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       unnest(range(0, LEN(w), {CHUNK_STRIDE})) AS chunk_start,
       unnest(list_transform(range(0, LEN(w), {CHUNK_STRIDE}),
              s -> LEN(list_slice(w, s + 1, s + {CHUNK_TOKENS})))) AS n_tokens,
       unnest(list_transform(range(0, LEN(w), {CHUNK_STRIDE}),
              s -> array_to_string(list_slice(w, s + 1, s + {CHUNK_TOKENS}), ' ')))
         AS chunk_text
FROM t
""",
    doc=f"Document → training chunks ({CHUNK_TOKENS}-token windows at "
    f"stride {CHUNK_STRIDE}), the SCALE path: pure JVM array "
    "expressions (split → explode(sequence) → slice → array_join), "
    "whole-stage codegen, zero Python transfer and zero shuffle — "
    "identical semantics to text_chunk_udtf (same oracle), which "
    "remains registered as the Python-UDTF extension-surface demo. "
    "At 100 TB this is the one to run: chunking is a map-side "
    "projection, so it scales with input splits and never exchanges.",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    ww = d.select("doc_id", w.alias("__w"))
    # sequence(0, size-1, stride) == range(0, size, stride) for size>=1;
    # split() never yields an empty array (''.split(' ') -> ['']), so
    # every doc emits >=1 chunk, exactly like the UDTF and the oracle.
    chunk = F.slice(F.col("__w"), F.col("chunk_start") + 1, F.lit(CHUNK_TOKENS))
    return (
        ww.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0), F.size("__w") - 1, F.lit(CHUNK_STRIDE)
                ).cast("array<bigint>")
            ).alias("chunk_start"),
            "__w",
        )
        .select(
            "doc_id",
            "chunk_start",
            F.size(chunk).alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


@register(
    "text_normalize",
    oracle="""
SELECT doc_id,
       regexp_replace(
         trim(regexp_replace(lower(text), '[[:space:]]+', ' ', 'g')),
         '[^a-z0-9 ]', '', 'g') AS norm_text,
       LEN(regexp_replace(
         trim(regexp_replace(lower(text), '[[:space:]]+', ' ', 'g')),
         '[^a-z0-9 ]', '', 'g')) AS n_norm_chars
FROM documents
WHERE doc_id < 200
""",
    doc="Text normalization for dedup/fingerprint pre-processing: "
    "lowercase → collapse whitespace runs → strip non-alphanumerics. "
    "Pure JVM expression chain (lower/regexp_replace/trim), whole-stage "
    "codegen, zero shuffle — the canonical normalize-before-hash step "
    "every dedup pipeline runs over the full corpus, so it must stay "
    "map-side. Bounded to doc_id < 200 only to keep the oracle diff "
    "readable; the expression itself is unbounded.",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    norm = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
        "[^a-z0-9 ]",
        "",
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).alias("n_norm_chars"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * (((SELECT n_docs FROM n) + 1.0) / (df.df + 1.0)) AS score
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tf, df, score
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term
  ) AS rnk
  FROM scored
)
WHERE rnk <= 3
""",
    doc="TF-IDF top-3 terms per document: one explode, two hash "
    "aggregates (term frequency per doc, document frequency per term), "
    "a broadcast-sized term-df join, and a per-doc top-k window (Spark "
    "plants WindowGroupLimit, so no full per-doc sort materializes). "
    "IDF uses the smoothed RATIO (N+1)/(df+1) without the usual log — "
    "monotone in df, so rankings are identical, and the arithmetic is "
    "one correctly-rounded double division in any engine (log parity "
    "across libms is not guaranteed bit-for-bit).",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    n_docs = d.count()
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        (
            F.col("tf") * (F.lit(float(n_docs) + 1.0) / (F.col("df") + F.lit(1.0)))
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score")
    )


PACK_BUDGET_TOKENS = 2048  # context-window budget for sequence packing


def _pack_oracle() -> str:
    from .ingestion_queries import _sql_greedy_chunks

    return _sql_greedy_chunks(
        """
  SELECT ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
         CAST(LEN(string_split(text, ' ')) AS BIGINT) AS record_bytes
  FROM documents
""",
        PACK_BUDGET_TOKENS,
        8192,
        """
SELECT d.doc_id,
       CAST(a.record_bytes AS INTEGER) AS n_tokens,
       a.chunk_number AS pack_id
FROM assigned a
JOIN (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
      FROM documents) d USING (rn)
""",
    )


@register(
    "text_pack_sequences",
    oracle=_pack_oracle(),
    doc=f"Sequence packing for LLM training: documents are greedily "
    f"packed, in deterministic doc_id order, into context windows of "
    f"at most {PACK_BUDGET_TOKENS} tokens (whitespace tokenization "
    "here; swap in the BPE count column for byte-exact budgets). "
    "Direct reuse of the ingestion byte-budget chunker "
    "(chunker.assign_chunks_by_bytes with size_col=n_tokens): "
    "epoch'd greedy fold via Arrow-batched mapInPandas + broadcast "
    "offset renumbering — no global sort, driver state O(#epochs), "
    "membership a pure function of the data so the DuckDB oracle "
    "replays it exactly. A document longer than the budget gets "
    "its own pack (the strict pre-append rule), mirroring how "
    "oversized training docs are isolated rather than silently "
    "truncated.",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..chunker import CHUNK_COL, assign_chunks_by_bytes

    # spread BEFORE tokenizing: documents is a one-split scan at small
    # SF, and tokenization is the expensive projection here.
    d = spread(load(spark, sf_dir, "documents")).select(
        "doc_id", F.size(_words(F.col("text"))).alias("n_tokens")
    )
    packed = assign_chunks_by_bytes(
        d, ["doc_id"], PACK_BUDGET_TOKENS, size_col="n_tokens"
    )
    return packed.select(
        "doc_id", "n_tokens", F.col(CHUNK_COL).alias("pack_id")
    )


_TRI = "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"
_SQL_TRI = "list_transform(range(1, LEN(text) - 1), i -> text[i:i+2])"


@register(
    "text_trigram_diversity",
    oracle=f"""
WITH tri AS (
  SELECT doc_id, unnest({_SQL_TRI}) AS t
  FROM documents WHERE LEN(text) >= 3
), counts AS (
  SELECT doc_id, t, COUNT(*) AS c FROM tri GROUP BY doc_id, t
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_trigrams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(c * c) AS BIGINT) AS sq_sum,
       ROUND(1.0 - CAST(SUM(c * c) AS DOUBLE) / (SUM(c) * SUM(c)), 9)
           AS diversity
FROM counts GROUP BY doc_id
""",
    doc="Char-trigram Gini-Simpson diversity per document — the log-free "
    "repetitiveness/quality signal (boilerplate and degenerate "
    "repetition score low). Integer-exact numerators (Σc, Σc²) plus "
    "ONE correctly-rounded double division, so both engines agree "
    "bit-for-bit — same determinism trick as the ratio-IDF in "
    "text_tfidf_top_terms (libm log parity is not guaranteed; Simpson "
    "needs no log). One explode + one hash aggregate per level; at "
    "100 TB the trigram explode is map-side only and the per-doc "
    "aggregate shuffles 12-byte pairs, not text.",
)
def text_trigram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents")).where(F.length("text") >= 3)
    tri = d.select("doc_id", F.explode(F.expr(_TRI)).alias("t"))
    counts = tri.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_trigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).alias("sq_sum"),
        F.round(
            F.lit(1.0)
            - F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c") * F.sum("c")),
            9,
        ).alias("diversity"),
    )


@register(
    "text_trigram_novelty",
    oracle=f"""
WITH tri AS (
  SELECT DISTINCT doc_id, unnest({_SQL_TRI}) AS t
  FROM documents WHERE LEN(text) >= 3
), df AS (
  SELECT t, COUNT(*) AS df FROM tri GROUP BY t
)
SELECT tri.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_trigrams,
       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS novelty
FROM tri JOIN df USING (t)
GROUP BY tri.doc_id
""",
    doc="Trigram novelty per document: the fraction of a doc's distinct "
    "char-trigrams that appear in NO other document — high novelty "
    "flags unique content, near-zero novelty flags template/boilerplate "
    "docs. Corpus-level document-frequency aggregate joined back per "
    "doc (the same two-level shape as TF-IDF); integer counts + one "
    "rounded division keep it hash-stable cross-engine. The df table "
    "is trigram-keyed (bounded by alphabet³ in the limit) — broadcast "
    "it at scale.",
)
def text_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents")).where(F.length("text") >= 3)
    tri = d.select(
        "doc_id", F.explode(F.array_distinct(F.expr(_TRI))).alias("t")
    )
    df_ = tri.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    novel = (F.col("df") == 1).cast("long")
    return (
        tri.join(df_, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_trigrams"),
            F.sum(novel).alias("n_novel"),
            F.round(
                F.sum(novel).cast("double") / F.count(F.lit(1)), 9
            ).alias("novelty"),
        )
    )


# ------------------------------------------------- unigram LM scoring


@register(
    "text_unigram_lm_score",
    oracle="""
WITH tok AS (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
),
vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT COUNT(*) AS n FROM tok)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CAST(CAST(cnt AS DOUBLE) / n AS DECIMAL(18,12)))
            AS DOUBLE) / COUNT(*) AS mean_token_p,
       CAST(COUNT(*) FILTER (WHERE cnt * 256 < n) AS DOUBLE)
           / COUNT(*) AS rare_ratio
FROM tok JOIN vocab USING (token) CROSS JOIN tot
GROUP BY doc_id
""",
    doc="Unigram language-model quality score (the CCNet-style 'how "
    "typical of the corpus is this document' filter): train the LM on "
    "the corpus itself (token → corpus probability), then score each "
    "document by mean token probability and rare-token ratio "
    "(p < 1/256, integer-exact compare). Two hash aggregates + one "
    "broadcast join of the O(vocab) model against the token stream — "
    "the model table is millions of rows at 100 TB while the stream is "
    "trillions, exactly the asymmetric join broadcast is for. "
    "Per-token probabilities are single IEEE divisions; the per-doc "
    "mean uses the exact-decimal sum rule, so the score is "
    "bit-identical to the oracle.",
)
def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    total = tok.agg(F.count("*").alias("n"))
    p = F.col("cnt").cast("double") / F.col("n")
    rare = F.when(F.col("cnt") * 256 < F.col("n"), 1).otherwise(0)
    return (
        tok.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.sum(p.cast("decimal(18,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_token_p"),
            (F.sum(rare).cast("double") / F.count(F.lit(1))).alias("rare_ratio"),
        )
    )


# ------------------------------------------------- URL canonical dedup


@register(
    "dedup_url_canonical",
    oracle="""
WITH variants AS (
    SELECT c_custkey,
           UNNEST([
             'https://WWW.Example.com:443/cust/' || CAST(c_custkey AS VARCHAR)
               || '/?utm_source=mail&id=' || CAST(c_nationkey AS VARCHAR),
             'https://www.example.com/cust/' || CAST(c_custkey AS VARCHAR)
               || '?id=' || CAST(c_nationkey AS VARCHAR) || '&utm_campaign=x',
             'https://www.example.com/cust/' || CAST(c_custkey AS VARCHAR)
               || '/?id=' || CAST(c_nationkey AS VARCHAR)
           ]) AS url
    FROM customer
)
SELECT 'https://www.example.com/cust/' || CAST(c_custkey AS VARCHAR)
           || '?id=' || CAST(c_nationkey AS VARCHAR) AS canonical_url,
       COUNT(*) AS n_variants,
       COUNT(DISTINCT c_custkey) AS n_pages
FROM variants v JOIN customer c USING (c_custkey)
GROUP BY 1
""",
    doc="URL canonicalization dedup — the crawl-frontier primitive that "
    "keeps a web corpus from fetching every page N times: three "
    "observed variants per page (uppercase host, explicit default "
    "port, tracking params, trailing slash) collapse to ONE canonical "
    "form via a chain of JVM regexp_replace/lower rewrites, then one "
    "hash aggregate groups the variants. Canonicalization is pure "
    "map-side codegen (no UDF); the oracle derives the canonical form "
    "analytically from the construction rule, so every rewrite step "
    "is hash-checked. Each canonical URL must count exactly 3 "
    "variants and 1 page.",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("string")
    nat = F.col("c_nationkey").cast("string")
    variants = c.select(
        "c_custkey",
        F.explode(
            F.array(
                F.concat(
                    F.lit("https://WWW.Example.com:443/cust/"), key,
                    F.lit("/?utm_source=mail&id="), nat,
                ),
                F.concat(
                    F.lit("https://www.example.com/cust/"), key,
                    F.lit("?id="), nat, F.lit("&utm_campaign=x"),
                ),
                F.concat(
                    F.lit("https://www.example.com/cust/"), key,
                    F.lit("/?id="), nat,
                ),
            )
        ).alias("url"),
    )
    canon = F.col("url")
    # lowercase scheme+host (up to the first path slash), keep the path
    canon = F.concat(
        F.lower(F.regexp_extract(canon, r"^(https?://[^/]+)", 1)),
        F.regexp_extract(canon, r"^https?://[^/]+(.*)$", 1),
    )
    canon = F.regexp_replace(canon, r":443/", "/")  # default https port
    canon = F.regexp_replace(canon, r"(utm_[a-z]+=[^&]*&?)", "")  # tracking
    canon = F.regexp_replace(canon, r"[?&]$", "")  # dangling separators
    canon = F.regexp_replace(canon, r"/\?", "?")  # trailing slash pre-query
    canon = F.regexp_replace(canon, r"\?&", "?")  # empty first param slot
    return (
        variants.select("c_custkey", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.count_distinct("c_custkey").alias("n_pages"),
        )
    )


_COLLOC_MIN_SUPPORT = 20
_COLLOC_TOP_K = 30


@register(
    "text_collocations_pmi",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
bigrams AS (
    SELECT UNNEST(list_transform(
               range(1, LEN(ts)),
               i -> struct_pack(w1 := ts[i], w2 := ts[i + 1])
           )) AS bg
    FROM toks
),
bg AS (
    SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS n_ab
    FROM bigrams GROUP BY 1, 2
),
uni AS (
    SELECT UNNEST(ts) AS w FROM toks
),
uc AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY w),
tot AS (SELECT COUNT(*) AS n_tok FROM uni)
SELECT bg.w1, bg.w2, bg.n_ab,
       ROUND(CAST(bg.n_ab AS DOUBLE) * n_tok / (a.n * b.n), 9) AS lift
FROM bg
JOIN uc a ON a.w = bg.w1
JOIN uc b ON b.w = bg.w2
CROSS JOIN tot
WHERE bg.n_ab >= {_COLLOC_MIN_SUPPORT}
ORDER BY lift DESC, bg.w1, bg.w2
LIMIT {_COLLOC_TOP_K}
""",
    doc="Collocation mining: adjacent-token bigrams scored by lift "
    "(observed/expected co-occurrence — exp(PMI), computed log-free "
    "so the score stays a single IEEE multiply/divide of exact "
    "integer counts, bit-identical across engines). Bigram extraction "
    "is a map-side generator over the token arrays; the unigram "
    "model (O(vocab)) broadcasts onto the bigram counts exactly like "
    "text_unigram_lm_score's model join; min-support prunes the "
    "long tail BEFORE the joins and TakeOrderedAndProject takes "
    "top-k without a global sort. The standard phrase-detection pass "
    "(word2vec preprocessing, tokenizer vocab induction) at corpus "
    "scale.",
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("ts"))
    # sequence(0, -1) errors on single-token docs; DuckDB's range(1,1)
    # is just empty — filter to keep the generators aligned
    bigrams = toks.where(F.size("ts") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts) - 2), "
                "i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bg = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= _COLLOC_MIN_SUPPORT)
    )
    uni = toks.select(F.explode("ts").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    tot = uni.agg(F.count(F.lit(1)).alias("n_tok"))
    a = uc.select(F.col("w").alias("w1"), F.col("n").alias("n_a"))
    b = uc.select(F.col("w").alias("w2"), F.col("n").alias("n_b"))
    return (
        bg.join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double") * F.col("n_tok")
                / (F.col("n_a") * F.col("n_b")),
                9,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(_COLLOC_TOP_K)
    )


_BPE_TOP_K = 20


@register(
    "text_bpe_merge_candidates",
    oracle=f"""
WITH words AS (
    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
),
pairs AS (
    SELECT SUBSTR(w, CAST(i AS INTEGER), 2) AS pair
    FROM words, UNNEST(range(1, LEN(w))) t(i)
    WHERE LEN(w) >= 2
)
SELECT pair, COUNT(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {_BPE_TOP_K}
""",
    doc="Tokenizer vocabulary induction, step one: corpus-wide adjacent "
    "character-pair frequencies — exactly the statistic the first BPE "
    "merge maximizes (later merges re-run the same count over the "
    "re-tokenized corpus, so this IS the inner loop of BPE training). "
    "Pair emission is a map-side generator (substr over an index "
    "sequence — no per-char explode, no Python); the only exchange "
    "carries (pair, partial count) and top-k is "
    "TakeOrderedAndProject. At 100 TB the count is the scan-bound "
    "pass everything else in tokenizer training hangs off.",
)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"), "w"
    ).select(F.substring(F.col("w"), F.col("i"), F.lit(2)).alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_TOP_K)
    )


# --------------------------------------------- boilerplate removal

BP_SEG = 2  # words per segment ("line" stand-in for the fixture corpus)
BP_MIN_DOCS = 15  # segment is boilerplate when >= this many docs carry it


@register(
    "text_remove_boilerplate",
    oracle=f"""
WITH segs AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS seg_idx,
         array_to_string(list_slice(string_split(text, ' '),
             CAST(t.i * {BP_SEG} + 1 AS INTEGER),
             CAST(t.i * {BP_SEG} + {BP_SEG} AS INTEGER)), ' ') AS seg
  FROM documents,
       UNNEST(range(0, CAST(CEIL(LEN(string_split(text, ' '))
                / CAST({BP_SEG} AS DOUBLE)) AS BIGINT))) AS t(i)
),
freq AS (
  SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM segs GROUP BY seg
),
flagged AS (
  SELECT s.doc_id, s.seg_idx, s.seg,
         f.nd >= {BP_MIN_DOCS} AS is_bp,
         LEN(string_split(s.seg, ' ')) AS seg_words
  FROM segs s JOIN freq f USING (seg)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN is_bp THEN 0 ELSE seg_words END) AS BIGINT)
           AS cleaned_tokens,
       {sql_md5_hash60(
           "COALESCE(string_agg(CASE WHEN NOT is_bp THEN seg END, "
           "' ' ORDER BY seg_idx), '')"
       )} AS cleaned_fp
FROM flagged
GROUP BY doc_id
""",
    doc="Boilerplate REMOVAL with reassembly — the cleaning step after "
    "detection (dedup_substring_exact finds repeated spans; this op "
    "deletes them and rebuilds the document): segment each doc into "
    f"{BP_SEG}-word units, count DISTINCT docs per segment (one hash "
    f"aggregate), mark segments carried by >= {BP_MIN_DOCS} docs as "
    "boilerplate (headers/footers/nav chrome in a real crawl), and "
    "emit per-doc kept-segment counts, cleaned token count, and a "
    "fingerprint of the REASSEMBLED cleaned text (order-preserving "
    "listagg of kept segments) so the reconstruction itself is "
    "hash-checked. Scale shape: segments shuffle once on segment "
    "text for the frequency count and once back on doc_id — both "
    "combiner-friendly; no per-doc Python, no windows over raw "
    "tokens. The segment-frequency table can be bloom/broadcast-"
    "pruned to only >=threshold entries at 100 TB.",
)
def text_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    n_segs = F.ceil(F.size(words) / F.lit(BP_SEG)).cast("int")
    seg_list = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(words, i * BP_SEG + 1, BP_SEG), " "
        ),
    )
    # segs has TWO consumers (the frequency aggregate and the flag
    # join): without a checkpoint the split+slice+posexplode
    # segmentation pass runs once per reference (the multi-consumer
    # recompute trap from the verify recipe). Interleaved A/B at
    # sf0.1: 2.68 s → 1.79 s, identical output (r12).
    segs = d.select(
        "doc_id", F.posexplode(seg_list).alias("seg_idx", "seg")
    ).localCheckpoint(eager=False)
    freq = segs.groupBy("seg").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    flagged = segs.join(freq, "seg").select(
        "doc_id",
        "seg_idx",
        "seg",
        (F.col("nd") >= BP_MIN_DOCS).alias("is_bp"),
        F.size(F.split(F.col("seg"), " ")).alias("seg_words"),
    )
    kept_text = F.expr(
        "listagg(CASE WHEN NOT is_bp THEN seg END, ' ') "
        "WITHIN GROUP (ORDER BY seg_idx)"
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum(F.col("is_bp").cast("int")).cast("long").alias("n_removed"),
        F.sum(F.when(F.col("is_bp"), 0).otherwise(F.col("seg_words")))
        .cast("long")
        .alias("cleaned_tokens"),
        md5_hash60(F.coalesce(kept_text, F.lit(""))).alias("cleaned_fp"),
    )


# --------------------------------------------------- BM25 retrieval

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "window", "hash")
BM25_TOPK = 5

# Shared constants, written identically in both engines so every
# floating-point operation is the same correctly-rounded IEEE op on
# the same operands: 1-b = 0.25 and b = 0.75 are exactly
# representable; 1.2 / 2.2 parse to the same nearest double from the
# same decimal literal in Spark and DuckDB.
_BM25_SQL = f"""
WITH stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS total_dl
  FROM documents
),
dl AS (
  SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
),
words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words WHERE term IN {BM25_TERMS!r}
  GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM words WHERE term IN {BM25_TERMS!r}
  GROUP BY term
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
         ((CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
          / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
            / (CAST(tf AS DOUBLE)
               + CAST(1.2 AS DOUBLE)
                 * (CAST(0.25 AS DOUBLE)
                    + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE))
                      / (CAST(total_dl AS DOUBLE)
                         / CAST(n_docs AS DOUBLE))))) AS score
  FROM tf
  JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
)
SELECT term, doc_id, tf, dl, score
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY term ORDER BY score DESC, doc_id
  ) AS rnk
  FROM scored
)
WHERE rnk <= {BM25_TOPK}
"""


@register(
    "text_bm25_topk",
    oracle=_BM25_SQL,
    doc=f"Okapi BM25 retrieval (k1={BM25_K1}, b={BM25_B}) for a fixed "
    f"query term set, top-{BM25_TOPK} documents per term — the "
    "classic lexical ranker next to text_tfidf_top_terms and "
    "sim_maxsim_late_interaction. IDF uses the RATIO inside the "
    "canonical log, (N-df+0.5)/(df+0.5), without the log — monotone "
    "in df so rankings are identical, and libm never touches compared "
    "output (module determinism rule). Every float op is written with "
    "the same association in both engines over exact-integer inputs "
    "(tf, dl, df, N, total_dl), so scores are bit-identical. Engine "
    "shape: one explode + term filter pushed to the scan side, two "
    "hash aggregates (tf, df), a broadcast-sized df/stats join, dl "
    "from the same cheap scan, and a per-term top-k window (Spark "
    "plants WindowGroupLimit — no global sort). At 100 TB the only "
    "full pass is the word explode; query terms prune before the "
    "shuffle.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    dl = d.select("doc_id", F.size(w).cast("long").alias("dl"))
    stats = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(w)).cast("long").alias("total_dl"),
    )
    words = d.select("doc_id", F.explode(w).alias("term")).where(
        F.col("term").isin(*BM25_TERMS)
    )
    tf = words.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_ = words.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    dbl = lambda c: c.cast("double")  # noqa: E731
    avgdl = dbl(F.col("total_dl")) / dbl(F.col("n_docs"))
    idf = (dbl(F.col("n_docs") - F.col("df")) + F.lit(0.5)) / (
        dbl(F.col("df")) + F.lit(0.5)
    )
    norm = F.lit(0.25) + (F.lit(0.75) * dbl(F.col("dl"))) / avgdl
    score = idf * (
        (dbl(F.col("tf")) * F.lit(2.2))
        / (dbl(F.col("tf")) + F.lit(1.2) * norm)
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("term", "doc_id", "tf", "dl", score.alias("score"))
    )
    wnd = Window.partitionBy("term").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(wnd))
        .where(F.col("rnk") <= BM25_TOPK)
        .select("term", "doc_id", "tf", "dl", "score")
    )


# ----------------------------------------- Gopher quality filters

GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3, 10
GOPHER_MIN_STOPWORDS = 2


@register(
    "text_gopher_quality_filters",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS sum_len,
         CAST(LEN(list_filter(string_split(text, ' '),
                              x -> regexp_matches(x, '[a-z]')))
              AS BIGINT) AS n_alpha,
         CAST(LENGTH(text) - LENGTH(REPLACE(text, '#', ''))
              AS BIGINT) AS n_sym,
         CAST(LEN(list_intersect(list_distinct(string_split(text, ' ')),
                                 [{_SQL_STOPLIST}])) AS BIGINT)
             AS n_stop_kinds
  FROM documents
)
SELECT doc_id, n_words,
       n_words >= {GOPHER_MIN_WORDS}
         AND n_words <= {GOPHER_MAX_WORDS} AS r_word_count,
       sum_len >= {GOPHER_MIN_MWL} * n_words
         AND sum_len <= {GOPHER_MAX_MWL} * n_words AS r_mean_word_len,
       5 * n_alpha > 4 * n_words AS r_alpha_words,
       10 * n_sym < n_words AS r_symbol_ratio,
       n_stop_kinds >= {GOPHER_MIN_STOPWORDS} AS r_stopwords,
       CASE WHEN n_words >= {GOPHER_MIN_WORDS}
                 AND n_words <= {GOPHER_MAX_WORDS}
                 AND sum_len >= {GOPHER_MIN_MWL} * n_words
                 AND sum_len <= {GOPHER_MAX_MWL} * n_words
                 AND 5 * n_alpha > 4 * n_words
                 AND 10 * n_sym < n_words
                 AND n_stop_kinds >= {GOPHER_MIN_STOPWORDS}
            THEN 'keep' ELSE 'drop' END AS verdict
FROM t
""",
    doc="The published Gopher document-quality heuristics (Rae et al. "
    "2021, table A1 subset): word-count bounds "
    f"[{GOPHER_MIN_WORDS}, {GOPHER_MAX_WORDS}], mean word length in "
    f"[{GOPHER_MIN_MWL}, {GOPHER_MAX_MWL}], >80% of words containing "
    "an alphabetic character, symbol-to-word ratio < 0.1, and at "
    f"least {GOPHER_MIN_STOPWORDS} distinct stopwords present — the "
    "standard LLM-corpus pre-filter next to text_quality_score's "
    "composite score and text_repetition_filter. Every ratio rule "
    "compares by INTEGER cross-multiplication (sum_len >= 3*n_words, "
    "5*n_alpha > 4*n_words, 10*n_sym < n_words), so no division and "
    "exact parity. One scan, all-codegen array exprs, no shuffle at "
    "all — embarrassingly parallel at any SF.",
)
def text_gopher_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    t = d.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("long")
        .alias("sum_len"),
        F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
        .cast("long")
        .alias("n_alpha"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
        )
        .cast("long")
        .alias("n_sym"),
        F.size(
            F.array_intersect(
                F.array_distinct(w), F.array(*[F.lit(s) for s in STOPWORDS])
            )
        )
        .cast("long")
        .alias("n_stop_kinds"),
    )
    r_wc = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    r_mwl = (F.col("sum_len") >= GOPHER_MIN_MWL * F.col("n_words")) & (
        F.col("sum_len") <= GOPHER_MAX_MWL * F.col("n_words")
    )
    r_alpha = 5 * F.col("n_alpha") > 4 * F.col("n_words")
    r_sym = 10 * F.col("n_sym") < F.col("n_words")
    r_stop = F.col("n_stop_kinds") >= GOPHER_MIN_STOPWORDS
    keep = r_wc & r_mwl & r_alpha & r_sym & r_stop
    return t.select(
        "doc_id",
        "n_words",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_alpha.alias("r_alpha_words"),
        r_sym.alias("r_symbol_ratio"),
        r_stop.alias("r_stopwords"),
        F.when(keep, "keep").otherwise("drop").alias("verdict"),
    )


# ------------------------------------------- hybrid retrieval (RRF)

RRF_C = 60  # the standard reciprocal-rank-fusion constant
RRF_LIST_K = 20  # depth of each input ranking
RRF_TOPK = 10
RRF_PROBE_ID = 0  # query embedding = embeddings.vec_id 0

_RRF_SQL = f"""
WITH stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS total_dl
  FROM documents
),
dl AS (
  SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
),
words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words WHERE term IN {BM25_TERMS!r}
  GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM words WHERE term IN {BM25_TERMS!r}
  GROUP BY term
),
term_scores AS (
  SELECT tf.doc_id,
         CAST(ROUND((((CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
          / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
            / (CAST(tf AS DOUBLE)
               + CAST(1.2 AS DOUBLE)
                 * (CAST(0.25 AS DOUBLE)
                    + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE))
                      / (CAST(total_dl AS DOUBLE)
                         / CAST(n_docs AS DOUBLE)))))) * 1e9)
              AS DECIMAL(38,0)) AS s9
  FROM tf
  JOIN df USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
),
lex AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY SUM(s9) DESC, doc_id ASC) AS r_lex
  FROM term_scores GROUP BY doc_id
  QUALIFY r_lex <= {RRF_LIST_K}
),
probe AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id = {RRF_PROBE_ID}
),
sem AS (
  SELECT e.vec_id AS doc_id,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                                 p.qv), 9) DESC,
                    e.vec_id ASC) AS r_sem
  FROM embeddings e CROSS JOIN probe p
  WHERE e.vec_id != {RRF_PROBE_ID}
  QUALIFY r_sem <= {RRF_LIST_K}
),
fused AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         CAST(COALESCE(lex.r_lex, 0) AS BIGINT) AS r_lex,
         CAST(COALESCE(sem.r_sem, 0) AS BIGINT) AS r_sem,
         (CASE WHEN lex.r_lex IS NULL THEN CAST(0.0 AS DOUBLE)
               ELSE CAST(1.0 AS DOUBLE)
                    / CAST({RRF_C} + lex.r_lex AS DOUBLE) END)
         + (CASE WHEN sem.r_sem IS NULL THEN CAST(0.0 AS DOUBLE)
                 ELSE CAST(1.0 AS DOUBLE)
                      / CAST({RRF_C} + sem.r_sem AS DOUBLE) END) AS rrf
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, r_lex, r_sem, rrf
FROM fused
QUALIFY ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) <= {RRF_TOPK}
"""


@register(
    "text_hybrid_rrf_topk",
    oracle=_RRF_SQL,
    doc=f"Hybrid retrieval via reciprocal-rank fusion (Cormack et al. "
    f"2009): fuse a lexical BM25 ranking (OR over {BM25_TERMS}, "
    "per-term scores integer-scaled to 1e-9 so the per-doc SUM is "
    "exact in both engines — float sums of 2-3 terms would be "
    "association-dependent) with a semantic cosine ranking against a "
    f"fixed probe embedding (vec_id {RRF_PROBE_ID}), rrf = "
    f"sum 1/({RRF_C}+rank) over the two depth-{RRF_LIST_K} lists — "
    "exactly two correctly-rounded divisions and ONE double add per "
    "doc, so scores are bit-identical cross-engine without rounding. "
    "The production hybrid-search shape (dense + sparse fusion). "
    "Scale: both input rankings reduce via TakeOrderedAndProject "
    f"(per-partition top-{RRF_LIST_K} + driver merge, no global "
    "sort); windows then rank <=20-row frames; the fuse join is "
    "tiny-to-tiny. The corpus is passed twice (word explode with "
    "term pushdown; one cosine map pass) — both single full scans, "
    "no O(corpus) shuffle.",
)
def text_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..ops.similarity import cosine_col, nsq_col

    d = load(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    dl = d.select("doc_id", F.size(w).cast("long").alias("dl"))
    stats = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(w)).cast("long").alias("total_dl"),
    )
    words = d.select("doc_id", F.explode(w).alias("term")).where(
        F.col("term").isin(*BM25_TERMS)
    )
    tf = words.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_ = words.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    dbl = lambda c: c.cast("double")  # noqa: E731
    avgdl = dbl(F.col("total_dl")) / dbl(F.col("n_docs"))
    idf = (dbl(F.col("n_docs") - F.col("df")) + F.lit(0.5)) / (
        dbl(F.col("df")) + F.lit(0.5)
    )
    norm = F.lit(0.25) + (F.lit(0.75) * dbl(F.col("dl"))) / avgdl
    score = idf * (
        (dbl(F.col("tf")) * F.lit(2.2))
        / (dbl(F.col("tf")) + F.lit(1.2) * norm)
    )
    term_scores = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        # DECIMAL(38,0), not BIGINT: ratio-IDF grows with corpus size, so
        # at ~4e9+ docs score*1e9 would wrap int64 (SCALE_AUDIT.md)
        .select(
            "doc_id",
            F.round(score * F.lit(1e9)).cast("decimal(38,0)").alias("s9"),
        )
    )
    lex_top = (
        term_scores.groupBy("doc_id")
        .agg(F.sum("s9").alias("s9sum"))
        .orderBy(F.col("s9sum").desc(), F.col("doc_id").asc())
        .limit(RRF_LIST_K)
    )
    lex = lex_top.withColumn(
        "r_lex",
        F.row_number().over(
            Window.orderBy(F.col("s9sum").desc(), F.col("doc_id").asc())
        ),
    ).select("doc_id", "r_lex")

    e = load(spark, sf_dir, "embeddings").withColumn(
        "__nsq", nsq_col(F.col("embedding"))
    )
    probe = e.where(F.col("vec_id") == RRF_PROBE_ID).select(
        F.col("embedding").alias("qv"), F.col("__nsq").alias("__qnsq")
    )
    cos = F.round(
        cosine_col(
            F.col("qv"), F.col("embedding"), F.col("__qnsq"), F.col("__nsq")
        ),
        9,
    )
    sem_top = (
        e.where(F.col("vec_id") != RRF_PROBE_ID)
        .crossJoin(F.broadcast(probe))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
        .limit(RRF_LIST_K)
    )
    sem = sem_top.withColumn(
        "r_sem",
        F.row_number().over(
            Window.orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
        ),
    ).select("doc_id", "r_sem")

    contrib = lambda r: F.when(  # noqa: E731
        r.isNull(), F.lit(0.0)
    ).otherwise(F.lit(1.0) / (F.lit(RRF_C) + r).cast("double"))
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("r_lex"), F.lit(0)).cast("long").alias("r_lex"),
            F.coalesce(F.col("r_sem"), F.lit(0)).cast("long").alias("r_sem"),
            (contrib(F.col("r_lex")) + contrib(F.col("r_sem"))).alias("rrf"),
        )
    )
    return (
        fused.withColumn(
            "__rnk",
            F.row_number().over(
                Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
            ),
        )
        .where(F.col("__rnk") <= RRF_TOPK)
        .drop("__rnk")
    )
