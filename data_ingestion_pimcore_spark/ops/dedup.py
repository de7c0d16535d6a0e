"""Deduplication operators for LLM training-data pipelines: exact
(content-hash), n-gram Jaccard near-dup, MinHash signatures with LSH
band bucketing, and SimHash — over the ``documents`` table.

Scale design:

* Exact dedup is one hash-aggregate: sha256(text) → min-id per group.
  At 100 TB this is a single shuffle on a 32-byte key; AQE coalesces.
* Jaccard candidates come from an inverted shingle index (explode →
  self-equi-join on shingle), never a cross join; the shingle join key
  is the classic posting-list trick, and frequent-shingle skew is the
  thing to watch (cap via distinct-per-doc shingles; stopword shingles
  could be dropped at higher SF).
* MinHash compresses each doc to ``N_HASHES`` 60-bit mins; LSH bands
  turn near-dup search into an equi-join on (band_idx, band_hash) —
  the standard sub-quadratic path. Signatures and band hashes are
  md5-derived and verified bit-for-bit against DuckDB.
* SimHash packs a doc into one 64-bit value; hamming-distance pairs
  come from 4-way band equi-joins (pigeonhole: distance ≤ 3 → at least
  one of 4 16-bit bands equal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load
from .textops import md5_hash60, sql_md5_hash60, with_shingles

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS

# Stop-shingle document-frequency cap: a shingle appearing in L docs
# contributes L² candidate pairs under ANY exact posting-list scheme, so
# boilerplate-heavy corpora (headers, licenses) blow up one posting list.
# Shingles with df > DF_CAP are dropped BEFORE pair generation — the
# production MinHashLSH/suffix-dedup convention. 128 is ~5× the max
# organic df observed at sf0.1 (25), so results are unchanged at test
# scales while an adversarial stop-shingle is bounded at DF_CAP² pairs.
# Jaccard denominators still use the full (uncapped) shingle-set sizes;
# intersections count capped shingles only — mirrored in the oracle.
DF_CAP = 128

_SQL_SHINGLES = """
  CASE WHEN LEN(string_split(text, ' ')) >= 3
       THEN list_distinct(list_transform(
              range(1, LEN(string_split(text, ' ')) - 1),
              i -> string_split(text, ' ')[i] || ' ' ||
                   string_split(text, ' ')[i+1] || ' ' ||
                   string_split(text, ' ')[i+2]))
       ELSE [text] END
"""


@register(
    "dedup_exact",
    oracle="""
SELECT sha256(text) AS content_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY sha256(text)
""",
    doc="Exact dedup via content hash: one hash-aggregate, keep the "
    "minimum doc_id per identical text.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2(F.col("text"), 256).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingle_pair_counts(docs: DataFrame, df_cap: int = DF_CAP) -> DataFrame:
    """Inverted-index shared-shingle counts: (doc_a, doc_b, na, nb, inter)
    for every document pair sharing ≥1 shingle whose document frequency
    is ≤ ``df_cap``. The shared core of Jaccard and containment dedup.
    """
    # Accept a pre-shingled frame (column already attached) so callers
    # that need BOTH the Jaccard pairs and another shingle consumer
    # (dedup_lsh_eval_report) can share one shingling pass.
    d = docs if "shingles" in docs.columns else with_shingles(docs)
    # sizes come from the array BEFORE exploding — no per-doc aggregate.
    # (doc_id, n) travels as ONE encoded long, (doc_id << 32) | n —
    # guide §2.3 narrower shuffle rows: the posting-list exchange
    # carries 8-byte primitives instead of 16-byte structs (plus
    # per-struct overhead), and the pair rows below carry two longs
    # instead of a 4-field struct. n is functionally determined by
    # doc_id, so sort_array still orders lists by doc_id and the same
    # safety bound as stats_market_basket / graph_triangle_count
    # applies (doc_id positive, < 2^31; n < 2^32 — both hold by
    # construction at any SF this corpus schema reaches).
    sh = d.select(
        (F.shiftleft(F.col("doc_id"), 32) + F.size("shingles")).alias("dn"),
        F.explode(F.transform("shingles", lambda s: md5_hash60(s))).alias("s"),
    )
    # Posting list per shingle, sorted so generated pairs satisfy
    # doc_a < doc_b by construction; lists of 1 produce no pairs, lists
    # above the df cap are stop-shingles and are dropped entirely.
    lists = (
        sh.groupBy("s")
        .agg(F.sort_array(F.collect_list("dn")).alias("ds"))
        .where((F.size("ds") > 1) & (F.size("ds") <= F.lit(df_cap)))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    mask = F.lit(0xFFFFFFFF)
    return (
        lists.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.a", "p.b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            F.shiftright("a", 32).alias("doc_a"),
            F.shiftright("b", 32).alias("doc_b"),
            F.col("a").bitwiseAND(mask).cast("int").alias("na"),
            F.col("b").bitwiseAND(mask).cast("int").alias("nb"),
            "inter",
        )
    )


def jaccard_pairs(
    docs: DataFrame, df_cap: int = DF_CAP, threshold: float = 0.2
) -> DataFrame:
    """Inverted-index n-gram Jaccard pairs over a documents-shaped DF.

    Shingles above ``df_cap`` document frequency are dropped before
    pair generation (skew bound: one posting list can emit at most
    df_cap² pairs); denominators keep the uncapped per-doc sizes.
    """
    pairs = _shingle_pair_counts(docs, df_cap)
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return pairs.where(jac >= threshold).select(
        "doc_a", "doc_b", jac.alias("jaccard")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         LEN({_SQL_SHINGLES}) AS n,
         unnest(list_transform({_SQL_SHINGLES},
                               s -> {sql_md5_hash60('s')})) AS s
  FROM documents
), keep AS (
  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {DF_CAP}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN keep k ON k.s = a.s
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
FROM pairs
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.2
""",
    doc="N-gram Jaccard near-dup via a single-pass inverted shingle "
    "index: shingles (md5-hashed to 60-bit longs — 8-byte shuffle keys "
    "instead of strings) group into posting lists, pairs are generated "
    "inside each list, intersections counted per pair, |A∩B|/|A∪B| ≥ τ. "
    "Shingling runs ONCE (the naive self-join recomputes it for both "
    "sides plus the size aggregate); no cross join anywhere. Skew bound "
    f"for 100 TB: shingles with document frequency > {DF_CAP} are "
    "stop-shingles, dropped before pair generation (a df-L shingle "
    "yields L² pairs under any exact algorithm) — mirrored in the "
    "oracle and property-tested against an adversarial corpus.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(load(spark, sf_dir, "documents"))


def _sql_sig(i: int) -> str:
    return (
        "list_min(list_transform(shingles, s -> "
        + sql_md5_hash60(f"'{i}' || ':' || s")
        + "))"
    )


def minhash_signatures(d: DataFrame) -> DataFrame:
    """doc_id + N_HASHES minhash values + N_BANDS band hashes.

    Signature definition (oracle-pinned bit-for-bit): ``sig_i =
    min over shingles s of md5_hash60(concat_ws(':', str(i), s))``;
    ``band_b = substr(md5(concat_ws(',', sig_{4b}..sig_{4b+3})), 1, 16)``.

    r12 measured the 16 higher-order ``transform``+``array_min`` lambda
    columns as the stage's cost and a posexplode reshape 5.5× SLOWER;
    r13 moves the md5 permutation loop to whole-Arrow-batch Python
    instead (guide §4.2: hand batches to C-backed code — hashlib.md5 +
    an int.from_bytes min loop). Only doc_id + text (or the pre-built
    shingle arrays, for callers sharing the shingle projection) cross
    the boundary, and each 60-bit min is taken in-batch so exactly the
    N_HASHES+N_BANDS output columns cross back. Interleaved A/B,
    identical rows every iteration: sf0.1 0.96 s → 0.74 s min (med
    1.17 → 0.75), sf1 3.39 s → 2.56 s min.
    """
    from hashlib import md5 as _md5

    import pandas as pd

    pre_shingled = "shingles" in d.columns
    if pre_shingled:
        src = d.select("doc_id", "shingles")
    else:
        from ..tables import spread

        src = spread(d).select("doc_id", "text")
    prefixes = [f"{i}:".encode() for i in range(N_HASHES)]
    # concat_ws SKIPS null args, so a null shingle hashes the bare
    # permutation index (no ':'), and an all-null/empty shingle array
    # leaves the min null — replicated exactly below.
    null_gram = [
        int.from_bytes(_md5(str(i).encode()).digest()[:8], "big") >> 4
        for i in range(N_HASHES)
    ]
    INF = 1 << 62

    def _sigs(batches):
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"]}
            col = pdf["shingles"] if pre_shingled else pdf["text"]
            sig_rows = []
            for cell in col:
                if pre_shingled:
                    # a NULL array hashes nothing: all-null signature
                    grams = cell if cell is not None else []
                elif cell is None:
                    grams = [None]
                else:
                    words = cell.split(" ")
                    if len(words) >= 3:
                        grams = {
                            " ".join(words[i : i + 3])
                            for i in range(len(words) - 2)
                        }
                    else:
                        grams = {cell}
                mins = [INF] * N_HASHES
                for g in grams:
                    if g is None:
                        for i in range(N_HASHES):
                            if null_gram[i] < mins[i]:
                                mins[i] = null_gram[i]
                        continue
                    gb = g.encode()
                    for i, p in enumerate(prefixes):
                        h = (
                            int.from_bytes(_md5(p + gb).digest()[:8], "big")
                            >> 4
                        )
                        if h < mins[i]:
                            mins[i] = h
                sig_rows.append(
                    [m if m != INF else None for m in mins]
                )
            for i in range(N_HASHES):
                out[f"sig_{i}"] = pd.array(
                    [r[i] for r in sig_rows], dtype="Int64"
                )
            for b in range(N_BANDS):
                out[f"band_{b}"] = [
                    _md5(
                        ",".join(
                            str(r[b * ROWS_PER_BAND + k])
                            for k in range(ROWS_PER_BAND)
                            if r[b * ROWS_PER_BAND + k] is not None
                        ).encode()
                    ).hexdigest()[:16]
                    for r in sig_rows
                ]
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, "
        + ", ".join(f"sig_{i} long" for i in range(N_HASHES))
        + ", "
        + ", ".join(f"band_{b} string" for b in range(N_BANDS))
    )
    return src.mapInPandas(_sigs, schema=schema)


_SQL_SIG_SELECT = ",\n       ".join(
    _sql_sig(i) + f" AS sig_{i}" for i in range(N_HASHES)
)
_SQL_BANDS = ",\n       ".join(
    "substr(md5("
    + " || ',' || ".join(
        f"CAST(sig_{b * ROWS_PER_BAND + k} AS VARCHAR)" for k in range(ROWS_PER_BAND)
    )
    + f"), 1, 16) AS band_{b}"
    for b in range(N_BANDS)
)


@register(
    "dedup_minhash_signatures",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), sigs AS (
  SELECT doc_id,
       {_SQL_SIG_SELECT}
  FROM sh
)
SELECT doc_id,
       {", ".join(f"sig_{i}" for i in range(N_HASHES))},
       {_SQL_BANDS}
FROM sigs
""",
    doc=f"MinHash: {N_HASHES} md5-derived 60-bit permutation mins per "
    f"doc + {N_BANDS} LSH band hashes — verified bit-for-bit vs DuckDB.",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load(spark, sf_dir, "documents"))


_SQL_SIG_LIST = ", ".join(f"sig_{i}" for i in range(N_HASHES))
_SQL_N_EQUAL = " + ".join(
    f"(CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
)
_SQL_BAND_UNION = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band_idx, band_{b} AS band_hash, {_SQL_SIG_LIST} "
    "FROM banded"
    for b in range(N_BANDS)
)

# Skew bound for LSH bucket joins, the band-level analogue of DF_CAP: a
# cluster of k identical (or near-identical) documents collides in
# EVERY band and would emit O(k²) candidate pairs per band. Buckets
# larger than BAND_CAP are dropped before pair generation, bounding any
# bucket at BAND_CAP² pairs. The recall trade-off is deliberate:
# mega-clusters are exact duplicates in practice and belong to
# dedup_exact / the curation pipeline's canonicalization step, which
# run upstream at O(n) — LSH is for the NEAR-duplicate tail.
BAND_CAP = 128

_SQL_BAND_KEEP = f"""bkeep AS (
  SELECT band_idx, band_hash FROM bands
  GROUP BY band_idx, band_hash HAVING COUNT(*) <= {BAND_CAP}
)"""


def _capped_bands(bands: DataFrame) -> DataFrame:
    """Drop band buckets larger than BAND_CAP before the self-join.
    One extra aggregate over the (doc, band) rows — linear work that
    buys the quadratic bound."""
    keep = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("__bs"))
        .where(F.col("__bs") <= BAND_CAP)
        .drop("__bs")
    )
    return bands.join(keep, ["band_idx", "band_hash"])


@register(
    "dedup_minhash_pairs",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), sigs AS (
  SELECT doc_id,
       {_SQL_SIG_SELECT}
  FROM sh
), banded AS (
  SELECT doc_id, {_SQL_SIG_LIST},
       {_SQL_BANDS}
  FROM sigs
), bands AS (
{_SQL_BAND_UNION}
), {_SQL_BAND_KEEP}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({_SQL_N_EQUAL} AS DOUBLE) / {N_HASHES} AS est_jaccard
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
JOIN bkeep k ON k.band_idx = a.band_idx AND k.band_hash = a.band_hash
""",
    doc="MinHash-LSH candidate pairs: equi-join on (band_idx, band_hash) "
    "buckets, then estimated similarity = fraction of equal signature "
    "components. Sub-quadratic: only bucket collisions are compared, "
    f"and buckets above {BAND_CAP} docs (exact-dup mega-clusters, the "
    "adversarial skew case at 100 TB) are dropped before pair "
    "generation — they belong to dedup_exact upstream. Signatures are "
    "md5-derived, so the whole pipeline — bands, bucket join, estimate "
    "— is deterministic and oracle-checked end-to-end (pair quality vs "
    "true jaccard is separately asserted in pytest).",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # checkpoint: the self-join + bucket gate reference the signature
    # lineage three times; materialize the small sig table once.
    sigs = minhash_signatures(
        load(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)
    bands = _capped_bands(_exploded_bands(sigs))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            sum(
                (F.col(f"a.sig_{i}") == F.col(f"b.sig_{i}")).cast("int")
                for i in range(N_HASHES)
            ).alias("n_equal"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        (F.col("n_equal") / F.lit(float(N_HASHES))).alias("est_jaccard"),
    )


def _exploded_bands(sigs: DataFrame) -> DataFrame:
    """doc_id + full signature + one row per (band_idx, band_hash)."""
    return sigs.select(
        "doc_id",
        *[F.col(f"sig_{i}") for i in range(N_HASHES)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.col(f"band_{b}").alias("band_hash"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select(
        "doc_id",
        *[f"sig_{i}" for i in range(N_HASHES)],
        "band.band_idx",
        "band.band_hash",
    )


@register(
    "dedup_minhash_incremental",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), sigs AS (
  SELECT doc_id,
       {_SQL_SIG_SELECT}
  FROM sh
), banded AS (
  SELECT doc_id, {_SQL_SIG_LIST},
       {_SQL_BANDS}
  FROM sigs
), bands AS (
{_SQL_BAND_UNION}
), cb AS (
  SELECT * FROM bands WHERE doc_id % 5 != 0
), nb AS (
  SELECT * FROM bands WHERE doc_id % 5 = 0
), bkeep AS (
  SELECT band_idx, band_hash FROM cb
  GROUP BY band_idx, band_hash HAVING COUNT(*) <= {BAND_CAP}
)
SELECT DISTINCT a.doc_id AS new_doc_id, b.doc_id AS corpus_doc_id,
       CAST({_SQL_N_EQUAL} AS DOUBLE) / {N_HASHES} AS est_jaccard
FROM nb a JOIN cb b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
JOIN bkeep k ON k.band_idx = a.band_idx AND k.band_hash = a.band_hash
""",
    doc="Incremental (batch-vs-corpus) near-dup: the production shape "
    "for deduplicating a NEW crawl against an EXISTING corpus — new "
    "docs' LSH bands probe the corpus band index, never an all-pairs "
    "self-join over corpus ∪ batch. Here the split is deterministic "
    "(doc_id % 5 = 0 is the incoming batch); at 100 TB the corpus "
    "index is a persisted table bucketed by (band_idx, band_hash), so "
    "the probe shuffles ONLY the new batch (tiny relative to the "
    f"corpus) into the index's buckets. Corpus buckets above "
    f"{BAND_CAP} docs are dropped (exact-dup mega-clusters, handled "
    "upstream by dedup_exact).",
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The band stream is referenced three times (batch probe, corpus
    # index, bucket-size gate); checkpoint the small signature table so
    # the md5 shingle/signature computation runs once, not per branch.
    sigs = minhash_signatures(
        load(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)
    bands = _exploded_bands(sigs)
    corpus = bands.where(F.col("doc_id") % 5 != 0)
    batch = bands.where(F.col("doc_id") % 5 == 0)
    corpus = _capped_bands(corpus)
    a, b = batch.alias("a"), corpus.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc_id"),
            F.col("b.doc_id").alias("corpus_doc_id"),
            sum(
                (F.col(f"a.sig_{i}") == F.col(f"b.sig_{i}")).cast("int")
                for i in range(N_HASHES)
            ).alias("n_equal"),
        )
        .distinct()
        .select(
            "new_doc_id",
            "corpus_doc_id",
            (F.col("n_equal") / F.lit(float(N_HASHES))).alias("est_jaccard"),
        )
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200
), pairs AS (
  SELECT a.vec_id AS keep_cand, b.vec_id AS dup_vec_id,
         ROUND(list_cosine_similarity(a.v, b.v), 9) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 9) >= 0.35
)
SELECT dup_vec_id, MIN(keep_cand) AS keep_vec_id, COUNT(*) AS n_near_dups,
       MAX(cosine) AS max_cosine
FROM pairs GROUP BY dup_vec_id
""",
    doc="Embedding-cosine near-dup dedup: a vector is a duplicate when a "
    "lower-id vector lies within the cosine threshold; keep the minimum "
    "such id (the seniority rule exact dedup uses). Bounded subset keeps "
    "the O(n²) oracle honest; the scale path replaces the pair join with "
    "sim_knn_ivf cell-pruned candidate generation.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import cosine_col, nsq_col

    e = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200).withColumn(
        "__nsq", nsq_col(F.col("embedding"))
    )
    a = e.select(
        F.col("vec_id").alias("keep_cand"),
        F.col("embedding").alias("va"),
        F.col("__nsq").alias("__nsq_a"),
    )
    b = e.select(
        F.col("vec_id").alias("dup_vec_id"),
        F.col("embedding").alias("vb"),
        F.col("__nsq").alias("__nsq_b"),
    )
    cos = F.round(
        cosine_col(F.col("va"), F.col("vb"), F.col("__nsq_a"), F.col("__nsq_b")), 9
    )
    pairs = (
        a.join(F.broadcast(b), F.col("keep_cand") < F.col("dup_vec_id"))
        .select("keep_cand", "dup_vec_id", cos.alias("cosine"))
        .where(F.col("cosine") >= 0.35)
    )
    return pairs.groupBy("dup_vec_id").agg(
        F.min("keep_cand").alias("keep_vec_id"),
        F.count(F.lit(1)).alias("n_near_dups"),
        F.max("cosine").alias("max_cosine"),
    )


@register(
    "dedup_simhash",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS words FROM documents
), hashes AS (
  SELECT doc_id, list_transform(words, w -> {sql_md5_hash60('w')}) AS hs FROM tok
)
SELECT doc_id,
       {", ".join(
           f"CASE WHEN LEN(list_filter(hs, h -> (h >> {bit}) & 1 = 1)) * 2 >= LEN(hs) "
           f"THEN 1 ELSE 0 END AS bit_{bit}"
           for bit in (0, 15, 30, 59)
       )}
FROM hashes
""",
    doc="SimHash: per-bit majority vote over 60-bit token hashes "
    "(4 probe bits exposed for oracle verification; the full 64-bit "
    "packing is exercised in tests).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("words")
    )
    hashes = tok.select(
        "doc_id", F.transform(F.col("words"), lambda w: md5_hash60(w)).alias("hs")
    )
    cols = []
    for bit in (0, 15, 30, 59):
        ones = F.size(
            F.filter(F.col("hs"), lambda h: h.bitwiseAND(F.lit(1 << bit)) != 0)
        )
        cols.append(
            F.when(ones * 2 >= F.size(F.col("hs")), 1).otherwise(0).alias(f"bit_{bit}")
        )
    return hashes.select("doc_id", *cols)


_SQL_JACCARD_EDGES = f"""
sh AS (
  SELECT doc_id,
         LEN({_SQL_SHINGLES}) AS n,
         unnest(list_transform({_SQL_SHINGLES},
                               s -> {sql_md5_hash60('s')})) AS s
  FROM documents
), keep AS (
  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {DF_CAP}
), jpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN keep k ON k.s = a.s
  GROUP BY a.doc_id, b.doc_id
), jedges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.2
  UNION ALL
  SELECT doc_b, doc_a FROM jpairs
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.2
)"""


@register(
    "dedup_connected_components",
    oracle=f"""
WITH RECURSIVE {_SQL_JACCARD_EDGES},
reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN jedges e ON e.src = r.node
)
SELECT src AS doc_id, MIN(node) AS component_id FROM reach GROUP BY src
""",
    doc="Connected components over the n-gram-Jaccard near-dup graph: "
    "the step that turns pairwise near-dups into dedup groups (keep "
    "component_id == doc_id, drop the rest). Iterative min-label "
    "propagation: each round every vertex takes the min of its own and "
    "its neighbors' labels — pure DataFrame joins/aggs, converging in "
    "diameter rounds (near-dup components are chains of a few docs, so "
    "2-3 rounds in practice; for adversarial chain lengths "
    "connected_components_star below runs the same primitives in "
    "O(log n) rounds). Edges are localCheckpointed "
    "once and reused every round; labels are checkpointed per round so "
    "the plan does not grow with iterations. Oracle = DuckDB recursive "
    "CTE computing min reachable id, which equals the component min.",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One direction is checkpointed (half the materialized bytes); the
    # symmetric view below is a narrow projection union over it.
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .localCheckpoint()
    )
    nodes = load(spark, sf_dir, "documents").select("doc_id")
    # r12 small-graph fast path (guide §1.2, same gate as
    # connected_components_star): the near-dup edge set is tiny
    # relative to the corpus by construction (DF_CAP-capped pairing +
    # Jaccard threshold), and below the gate each label-propagation
    # round spends whole jobs (join + aggregate + convergence count)
    # contracting a graph that fits in a driver page. The count is one
    # cheap job over the already-materialized checkpoint; graphs past
    # the gate take the distributed loop unchanged.
    if pairs.count() <= _CC_DRIVER_EDGE_LIMIT:
        return _cc_driver_small(nodes, pairs, "doc_id")
    edges = pairs.select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    ).unionByName(
        pairs.select(F.col("dst").alias("doc_a"), F.col("src").alias("doc_b"))
    )
    labels = nodes.select(
        "doc_id", F.col("doc_id").alias("component_id")
    ).localCheckpoint()
    for _ in range(20):
        nbr = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        new_label = F.least(
            F.col("component_id"),
            F.coalesce(F.col("nbr_min"), F.col("component_id")),
        )
        # Carry a per-row changed flag so convergence detection is ONE
        # aggregate over merged — which also materializes the lazy
        # checkpoint — instead of an eager-checkpoint job plus a
        # merged⋈labels comparison join.
        merged = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                new_label.alias("component_id"),
                (new_label != F.col("component_id"))
                .cast("long")
                .alias("__changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = int(
            merged.agg(F.sum("__changed").alias("c")).first()["c"] or 0
        )
        labels = merged.drop("__changed")
        if changed == 0:
            return labels
    raise RuntimeError("connected components did not converge in 20 rounds")


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "doc_id",
    max_rounds: int = 20,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — the O(log n)-round
    alternative to min-label propagation for adversarial diameters
    (label propagation needs diameter rounds; a 1000-node chain would
    blow any fixed budget).

    Each round: LARGE-STAR hangs every strictly-larger neighbor of u
    onto m = min(Γ(u) ∪ {u}); SMALL-STAR re-hangs u's smaller
    neighbors (and u) onto their minimum. Both are pure groupBy-min +
    self-join steps; edges monotonically flatten into stars (v → root).
    localCheckpoint per round keeps the plan from growing with
    iterations. ``edges`` is undirected input (one direction or both),
    columns ``src``/``dst``; isolated nodes label themselves.

    Round economy: edges live CANONICALIZED (src > dst always), which
    makes the symmetric view `e ∪ rev(e)` duplicate-free by
    construction and lets small-star consume large-star's output
    directly (it is already larger→smaller oriented) — so each round
    runs exactly one distinct, two groupBy-mins and two joins.
    Fixpoint detection is a fused one-job fingerprint
    (count + xor(xxhash64)) carried across rounds; only when the
    fingerprint repeats does a definitive set-equality check run
    (one subtract total per call, not per round).
    """
    e = (
        edges.select(
            F.greatest(F.col("src").cast("long"), F.col("dst").cast("long")).alias("src"),
            F.least(F.col("src").cast("long"), F.col("dst").cast("long")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    # Size per-round shuffles to the graph, not the session default: a
    # near-dup graph is typically tiny relative to the corpus, and each
    # round launches several shuffling jobs whose fixed per-task cost
    # dominates at 32+ partitions. ~50k edges per partition; restored
    # after the loop. (Same scale-aware sizing as streaming state
    # partitions in ops/timeseries.) The sizing count doubles as the
    # first convergence fingerprint — one job, two uses.
    spark = e.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    n_edges, hsum = _edge_fingerprint(e)
    if n_edges <= _CC_DRIVER_EDGE_LIMIT:
        # r12 small-graph fast path (guide §1.2: fix the algorithm
        # before the per-task work): below the gate, ~4 distributed
        # rounds × (2 joins + 2 aggregates + fingerprint) cost seconds
        # of pure job overhead to contract a graph whose edge list fits
        # in a single driver page — a bounded collect + union-find is
        # exact, O(E α(E)), and feeds the SAME final left join. The
        # near-dup graphs these components run over are tiny relative
        # to the corpus by construction (pairs survive DF_CAP/BAND_CAP
        # capped generation + a similarity threshold); graphs past the
        # gate take the distributed star loop unchanged. Interleaved
        # A/B at sf0.1 (256 edges): 4.16 s → 2.3 s for the CC stage.
        return _cc_driver_small(nodes, e, node_col)
    round_parts = max(4, min(int(prev_parts), n_edges // 50_000 + 4))
    spark.conf.set("spark.sql.shuffle.partitions", str(round_parts))
    try:
        return _star_rounds(nodes, e, (n_edges, hsum), node_col, max_rounds)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


# Bounded-collect gate for the driver-side union-find: 8192 canonical
# edges ≈ 128 KB collected — far below every other bounded collect in
# the engine (driver memory O(gate), independent of corpus size), while
# the inline-VALUES component relation it produces stays well under SQL
# parser pain. Above the gate the distributed star loop runs unchanged.
_CC_DRIVER_EDGE_LIMIT = 8192


def _cc_driver_small(nodes: DataFrame, e: DataFrame, node_col: str) -> DataFrame:
    """Exact min-label connected components for a gate-bounded edge set:
    driver union-find over the collected canonical edges, component
    labels joined back as an inline ``VALUES`` relation (never
    ``createDataFrame`` — Python-RDD-backed relations re-fork workers
    per evaluating job). Identical output contract to ``_star_rounds``:
    every node maps to the MINIMUM node id of its component; isolated
    nodes label themselves through the left-join coalesce."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in e.collect():
        a, b = find(int(row["src"])), find(int(row["dst"]))
        if a != b:  # union by min: smaller id becomes the root
            if a < b:
                parent[b] = a
            else:
                parent[a] = b
    labels = sorted((x, find(x)) for x in parent)
    if not labels:
        return nodes.select(
            F.col(node_col), F.col(node_col).alias("component_id")
        )
    values = ",".join(f"({x}L,{c}L)" for x, c in labels)
    comp = e.sparkSession.sql(
        f"SELECT * FROM VALUES {values} AS t({node_col}, component_id)"
    )
    return (
        nodes.select(F.col(node_col))
        .join(F.broadcast(comp), node_col, "left")
        .select(
            node_col,
            F.coalesce("component_id", F.col(node_col)).alias("component_id"),
        )
    )


def _edge_fingerprint(e: DataFrame) -> tuple[int, int]:
    """(row count, XOR of xxhash64(src,dst)) in ONE job — an
    order-independent, overflow-free (ANSI-safe) fingerprint of a
    distinct edge set."""
    row = e.agg(
        F.count(F.lit(1)).alias("c"),
        F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
    ).first()
    return int(row["c"]), int(row["h"] or 0)


def _star_rounds(
    nodes: DataFrame,
    e: DataFrame,
    fp: tuple[int, int],
    node_col: str,
    max_rounds: int,
) -> DataFrame:
    for _ in range(max_rounds):
        # e is canonical (src > dst) and distinct, so the symmetric
        # view's two halves are disjoint — no dedup shuffle needed.
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least(F.col("mn"), F.col("src")).alias("m"))
        )
        # LARGE-STAR: (v, m(u)) for every neighbor v > u, plus the star
        # edge (u, m(u)). m(u) ≤ u < v, so every output edge is already
        # src > dst — small-star can consume it directly, duplicates
        # and all (its groupBy-min is duplicate-insensitive, and the
        # final distinct dedupes the emitted pairs).
        ls_pairs = (
            sym.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        e2 = ls_pairs.unionByName(
            m.select("src", F.col("m").alias("dst"))
        ).where(F.col("src") != F.col("dst"))
        # SMALL-STAR over larger→smaller edges (= all of e2).
        m2 = e2.groupBy("src").agg(F.min("dst").alias("m"))
        ss_pairs = (
            e2.join(m2, "src")
            .where(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # Lazy checkpoint: the fingerprint action below materializes it
        # — one job per round instead of an eager-checkpoint job plus
        # an aggregate job.
        e_new = (
            ss_pairs.unionByName(m2.select("src", F.col("m").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        fp_new = _edge_fingerprint(e_new)
        converged = fp_new == fp and e_new.subtract(e).limit(1).count() == 0
        e, fp = e_new, fp_new
        if converged:
            break
    else:
        raise RuntimeError(
            f"star connected components did not converge in {max_rounds} rounds"
        )
    comp = e.groupBy("src").agg(F.min("dst").alias("component_id"))
    return (
        nodes.select(F.col(node_col))
        .join(comp.withColumnRenamed("src", node_col), node_col, "left")
        .select(
            node_col,
            F.coalesce("component_id", F.col(node_col)).alias("component_id"),
        )
    )


@register(
    "dedup_connected_components_star",
    oracle=f"""
WITH RECURSIVE {_SQL_JACCARD_EDGES},
reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN jedges e ON e.src = r.node
)
SELECT src AS doc_id, MIN(node) AS component_id FROM reach GROUP BY src
""",
    doc="Connected components over the n-gram-Jaccard near-dup graph via "
    "alternating large-star/small-star — same result as the label-"
    "propagation variant (one oracle checks both), but O(log n) rounds "
    "regardless of component diameter: the 100 TB path when near-dup "
    "chains can be long. Property-tested on a 1000-node chain.",
)
def dedup_connected_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    nodes = load(spark, sf_dir, "documents").select("doc_id")
    return connected_components_star(nodes, pairs)


@register(
    "dedup_edit_distance",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), sigs AS (
  SELECT doc_id,
       {_SQL_SIG_SELECT}
  FROM sh
), banded AS (
  SELECT doc_id, {_SQL_SIG_LIST},
       {_SQL_BANDS}
  FROM sigs
), bands AS (
{_SQL_BAND_UNION}
), {_SQL_BAND_KEEP}, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
  JOIN bkeep k ON k.band_idx = a.band_idx AND k.band_hash = a.band_hash
)
SELECT c.doc_a, c.doc_b,
       levenshtein(da.text, db.text) AS edit_dist,
       CAST(levenshtein(da.text, db.text) AS DOUBLE)
         / greatest(da.n_chars, db.n_chars) AS edit_ratio
FROM cand c
JOIN documents da ON da.doc_id = c.doc_a
JOIN documents db ON db.doc_id = c.doc_b
WHERE levenshtein(da.text, db.text)
      <= 0.3 * greatest(da.n_chars, db.n_chars)
""",
    doc="Edit-distance near-dup, the production two-stage shape: cheap "
    "sub-quadratic candidates (MinHash-LSH band buckets — never a "
    "cross join), then the expensive exact verify (O(len^2) "
    "levenshtein) ONLY on candidates. Both joins back to documents "
    "broadcast the (small, distinct) candidate list; at 100 TB the "
    "candidate side stays tiny relative to the corpus, so the verify "
    "stage is an embarrassingly parallel map over bucket collisions.",
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # sig columns in _exploded_bands are pruned away by Catalyst: cand
    # only projects doc ids, so the scan/exchange never carry them.
    # checkpoint: three references to the signature lineage otherwise.
    sigs = minhash_signatures(d).localCheckpoint(eager=False)
    bands = _capped_bands(_exploded_bands(sigs))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    da = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        F.col("n_chars").alias("chars_a"),
    )
    db = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        F.col("n_chars").alias("chars_b"),
    )
    ed = F.levenshtein("text_a", "text_b")
    mx = F.greatest("chars_a", "chars_b")
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .where(ed <= 0.3 * mx)
        .select(
            "doc_a",
            "doc_b",
            ed.alias("edit_dist"),
            (ed.cast("double") / mx).alias("edit_ratio"),
        )
    )


# ------------------------------------------------ containment near-dup


CONTAIN_TAU = 0.6


@register(
    "dedup_containment",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         LEN({_SQL_SHINGLES}) AS n,
         unnest(list_transform({_SQL_SHINGLES},
                               s -> {sql_md5_hash60('s')})) AS s
  FROM documents
), keep AS (
  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {DF_CAP}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN keep k ON k.s = a.s
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / LEAST(na, nb) AS containment
FROM pairs
WHERE CAST(inter AS DOUBLE) / LEAST(na, nb) >= {CONTAIN_TAU}
""",
    doc="Shingle containment near-dup: |A∩B| / min(|A|,|B|) ≥ τ flags a "
    "document mostly CONTAINED in another — the quote/excerpt/superset "
    "case Jaccard misses by construction (a short doc inside a long one "
    "has tiny |A∩B|/|A∪B| but containment ≈ 1). Shares the inverted "
    "posting-list core and stop-shingle DF cap with dedup_ngram_jaccard "
    "— same single shuffle, different final measure, so running both "
    "costs one extra aggregate, not a second index build.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _shingle_pair_counts(load(spark, sf_dir, "documents"))
    cont = F.col("inter").cast("double") / F.least("na", "nb")
    return pairs.where(cont >= CONTAIN_TAU).select(
        "doc_a", "doc_b", cont.alias("containment")
    )


# -------------------------------------------- exact-substring near-dup
#
# Character-level exact duplicate spans (the "exact substring dedup" of
# LLM-corpus curation, done at suffix-array scale in the literature):
# two docs share a duplicated span iff they share K consecutive chars,
# i.e. at least one K-gram. The Spark shape is winnowed rolling K-grams
# → 60-bit hashes → posting lists: MOD-sampling keeps 1/WINNOW_MOD of
# grams (deterministic in the gram CONTENT, so the same span is sampled
# identically in every doc containing it — no cross-doc miss), the
# DF_CAP bounds boilerplate posting lists exactly like the shingle path,
# and shuffle keys are 8-byte longs, never the substrings themselves.

K_GRAM = 32
WINNOW_MOD = 4
MIN_SHARED_GRAMS = 4


@register(
    "dedup_substring_exact",
    oracle=f"""
WITH g AS (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id,
           {sql_md5_hash60(f"substr(text, CAST(p AS INTEGER), {K_GRAM})")} AS h
    FROM documents,
         UNNEST(range(1, GREATEST(LENGTH(text) - {K_GRAM} + 2, 1))) AS t(p)
  ) WHERE h % {WINNOW_MOD} = 0
), keep AS (
  SELECT h FROM g GROUP BY h HAVING COUNT(*) <= {DF_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
JOIN keep k ON k.h = a.h
GROUP BY 1, 2
HAVING COUNT(*) >= {MIN_SHARED_GRAMS}
""",
    doc=f"Exact-substring duplicate spans: docs sharing ≥{MIN_SHARED_GRAMS} "
    f"winnowed {K_GRAM}-char grams (≈ a duplicated span of "
    f"{K_GRAM + (MIN_SHARED_GRAMS - 1) * WINNOW_MOD}+ chars) — the "
    "character-level dedup that catches copy-paste and boilerplate "
    "reuse word-shingles miss. Rolling K-grams hash whole-batch through "
    "C-backed md5 (r13; per-doc pre-dedup, winnow applied in-batch so "
    "only distinct surviving 8-byte keys reach the exchange), "
    f"MOD-sampled 1/{WINNOW_MOD} BY CONTENT so identical spans sample "
    "identically in every document (no cross-doc miss, unlike random "
    "sampling); posting lists above the stop-gram DF cap are dropped "
    "(license headers), bounding any single gram's pair fan-out at "
    f"{DF_CAP}². At 100 TB this is the winnowing/suffix-dedup shape: "
    "index size is chars/WINNOW_MOD 8-byte keys, pairs are equi-join "
    "bucketed, and no substring ever crosses an exchange.",
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import spread

    d = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return substring_pairs(d)


def substring_pairs(
    docs: DataFrame,
    k: int = K_GRAM,
    winnow_mod: int = WINNOW_MOD,
    df_cap: int = DF_CAP,
    min_shared: int = MIN_SHARED_GRAMS,
) -> DataFrame:
    """(doc_a, doc_b, n_shared) for docs sharing ≥ ``min_shared``
    winnowed exact ``k``-grams. See ``dedup_substring_exact``.

    r13 (guide §4.2, the minhash pattern): the rolling-gram hash stage
    runs whole-batch in Python — each doc's ~len(text) K-char slices
    md5 through hashlib, MOD-winnowed in-batch, and PRE-DEDUPED per doc
    (a set, matching the downstream ``collect_set``) so only distinct
    winnowed (doc_id, h) longs ever reach the exchange, strictly fewer
    rows than the JVM explode shipped. Interleaved A/B, identical rows
    every iteration: sf1 2.80 → 2.30 s min (med 3.16 → 2.60), sf0.1
    flat (logs/ab_substring_sf{1,01}_r13.out).
    """
    from hashlib import md5 as _md5

    import pandas as pd

    def _winnowed(batches):
        for pdf in batches:
            ids, hs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or len(text) < k:
                    continue
                seen = set()
                for p in range(len(text) - k + 1):
                    h = (
                        int.from_bytes(
                            _md5(text[p : p + k].encode()).digest()[:8],
                            "big",
                        )
                        >> 4
                    )
                    if h % winnow_mod == 0:
                        seen.add(h)
                did = int(doc_id)
                for h in seen:
                    ids.append(did)
                    hs.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="Int64"),
                    "h": pd.array(hs, dtype="Int64"),
                }
            )

    hashed = docs.select("doc_id", "text").mapInPandas(
        _winnowed, schema="doc_id long, h long"
    )
    lists = (
        hashed.groupBy("h")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .where((F.size("ds") > 1) & (F.size("ds") <= F.lit(df_cap)))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        lists.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# ------------------------------------------- LSH evaluation report


@register(
    "dedup_lsh_eval_report",
    oracle=f"""
WITH {_SQL_JACCARD_EDGES},
msh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), sigs AS (
  SELECT doc_id,
       {_SQL_SIG_SELECT}
  FROM msh
), banded AS (
  SELECT doc_id, {_SQL_SIG_LIST},
       {_SQL_BANDS}
  FROM sigs
), bands AS (
{_SQL_BAND_UNION}
), {_SQL_BAND_KEEP},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
  JOIN bkeep k ON k.band_idx = a.band_idx AND k.band_hash = a.band_hash
),
truth AS (
  SELECT doc_a, doc_b FROM jpairs
  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.2
),
hit AS (
  SELECT t.doc_a FROM truth t
  JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hits,
       CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
         / (SELECT COUNT(*) FROM truth) AS recall,
       CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
         / (SELECT COUNT(*) FROM cand) AS precision_vs_truth
""",
    doc="LSH quality evaluation AS A QUERY: join the MinHash-LSH "
    "candidate pairs against the exact n-gram-Jaccard truth set "
    "(threshold 0.2) and report recall and precision — the dashboard "
    "every production near-dup pipeline keeps to catch band-parameter "
    "drift. Both sides reuse the engine's own operators (signatures "
    "+ capped band join; capped posting-list exact pairs); the "
    "intersection is one equi-join on the pair key. The oracle "
    "recomputes BOTH pipelines in SQL from the shared fragment "
    "constants, so even the evaluation is hash-checked end to end. "
    "All counts exact integers; two final double divisions.",
)
def dedup_lsh_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE shingling pass shared by both pipelines (guide §2.4: the
    # truth side and the signature side each re-scanned documents and
    # re-shingled; the checkpoint computes the distinct-3-gram arrays
    # once and both consumers read the materialized partitions).
    shingled = (
        with_shingles(docs)
        .select("doc_id", "shingles")
        .localCheckpoint(eager=False)
    )
    truth = jaccard_pairs(shingled).select("doc_a", "doc_b").localCheckpoint(
        eager=False
    )
    sigs = minhash_signatures(shingled).localCheckpoint(eager=False)
    bands = _capped_bands(_exploded_bands(sigs))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    hits = truth.join(cand, ["doc_a", "doc_b"])
    n_truth = truth.agg(F.count("*").alias("c"))
    n_cand = cand.agg(F.count("*").alias("c"))
    n_hit = hits.agg(F.count("*").alias("c"))
    return (
        n_truth.select(F.col("c").alias("n_truth"))
        .join(n_cand.select(F.col("c").alias("n_candidates")))
        .join(n_hit.select(F.col("c").alias("n_hits")))
        .select(
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_hits").cast("long").alias("n_hits"),
            (F.col("n_hits").cast("double") / F.col("n_truth")).alias("recall"),
            (F.col("n_hits").cast("double") / F.col("n_candidates")).alias(
                "precision_vs_truth"
            ),
        )
    )


# --------------------------------------------- entity resolution

ER_KEY_OFFSET = 10_000_000
ER_BAL_TOL = 100  # |acctbal delta| tolerance, in CENTS (exact integers)


@register(
    "dedup_entity_resolution",
    oracle=f"""
WITH base AS (
  SELECT c_custkey, c_name, c_nationkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
),
dupes AS (
  SELECT c_custkey + {ER_KEY_OFFSET} AS c_custkey,
         c_name || ' JR' AS c_name, c_nationkey, bal_cents + 50 AS bal_cents
  FROM base WHERE c_custkey % 10 = 0
),
entities AS (SELECT * FROM base UNION ALL SELECT * FROM dupes),
blocked AS (
  SELECT c_custkey, c_nationkey, bal_cents,
         c_nationkey AS bk_nation, substr(c_name, 1, 18) AS bk_name
  FROM entities
),
matches AS (
  SELECT a.c_custkey AS ka, b.c_custkey AS kb, a.c_nationkey
  FROM blocked a JOIN blocked b
    ON a.bk_nation = b.bk_nation AND a.bk_name = b.bk_name
   AND a.c_custkey < b.c_custkey
  WHERE ABS(a.bal_cents - b.bal_cents) <= {ER_BAL_TOL}
)
SELECT e.c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_entities,
       CAST(COUNT(DISTINCT m.ka) AS BIGINT) AS n_matched_pairs,
       CAST(COUNT(*) - COUNT(DISTINCT m.ka) AS BIGINT) AS n_canonical
FROM entities e
LEFT JOIN matches m ON m.kb = e.c_custkey
GROUP BY e.c_nationkey
""",
    doc="Entity resolution / record linkage, the block-verify-resolve "
    "pipeline: a dirty feed (every 10th customer re-registered under "
    "a new key with a name suffix and a 50-cent balance drift) is "
    "blocked on (nation, 18-char name prefix) so candidate pairs come "
    "from an EQUI join — the step that makes ER sub-quadratic at "
    "100 TB; the verify predicate (balance delta <= "
    f"{ER_BAL_TOL} cents, exact integer arithmetic) filters block "
    "collisions; resolution keeps the min-key record per matched "
    "pair as canonical. Per-nation report: entities, matched pairs, "
    "surviving canonical records. The oracle mirrors the spec; at "
    "scale, swap the name-prefix block for the MinHash/LSH band keys "
    "(dedup_minhash_pairs) or phonetic keys without touching the "
    "verify/resolve stages.",
)
def dedup_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
    )
    dupes = cust.where(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + ER_KEY_OFFSET).alias("c_custkey"),
        F.concat(F.col("c_name"), F.lit(" JR")).alias("c_name"),
        "c_nationkey",
        (F.col("bal_cents") + 50).alias("bal_cents"),
    )
    entities = cust.unionByName(dupes)
    blocked = entities.select(
        "c_custkey",
        "c_nationkey",
        "bal_cents",
        F.substring("c_name", 1, 18).alias("bk_name"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    matches = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.bk_name") == F.col("b.bk_name"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .where(
            F.abs(F.col("a.bal_cents") - F.col("b.bal_cents")) <= ER_BAL_TOL
        )
        .select(
            F.col("a.c_custkey").alias("ka"),
            F.col("b.c_custkey").alias("kb"),
        )
    )
    return (
        entities.join(matches, entities["c_custkey"] == matches["kb"], "left")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_entities"),
            F.countDistinct("ka").cast("long").alias("n_matched_pairs"),
            (F.count("*") - F.countDistinct("ka"))
            .cast("long")
            .alias("n_canonical"),
        )
    )

# ------------------------------------------ cross-snapshot dedup report

NEAR_TAU = 0.5  # est_jaccard threshold for the near-dup verdict


@register(
    "dedup_cross_snapshot_report",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), sigs AS (
  SELECT doc_id,
       {_SQL_SIG_SELECT}
  FROM sh
), banded AS (
  SELECT doc_id, {_SQL_SIG_LIST},
       {_SQL_BANDS}
  FROM sigs
), bands AS (
{_SQL_BAND_UNION}
), cb AS (
  SELECT * FROM bands WHERE doc_id % 5 != 0
), nb AS (
  SELECT * FROM bands WHERE doc_id % 5 = 0
), bkeep AS (
  SELECT band_idx, band_hash FROM cb
  GROUP BY band_idx, band_hash HAVING COUNT(*) <= {BAND_CAP}
), ex AS (
  SELECT n.doc_id AS new_doc_id, MIN(c.doc_id) AS match_doc_id
  FROM documents n JOIN documents c
    ON sha256(n.text) = sha256(c.text)
  WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 != 0
  GROUP BY n.doc_id
), near_cand AS (
  SELECT DISTINCT a.doc_id AS new_doc_id, b.doc_id AS corpus_doc_id,
         CAST({_SQL_N_EQUAL} AS DOUBLE) / {N_HASHES} AS est_jaccard
  FROM nb a JOIN cb b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  JOIN bkeep k ON k.band_idx = a.band_idx AND k.band_hash = a.band_hash
), near_best AS (
  SELECT new_doc_id, corpus_doc_id AS match_doc_id, est_jaccard FROM (
    SELECT new_doc_id, corpus_doc_id, est_jaccard,
           ROW_NUMBER() OVER (PARTITION BY new_doc_id
                              ORDER BY est_jaccard DESC, corpus_doc_id) AS rk
    FROM near_cand WHERE est_jaccard >= {NEAR_TAU}
  ) WHERE rk = 1
)
SELECT d.doc_id AS new_doc_id,
       CASE WHEN ex.new_doc_id IS NOT NULL THEN 'exact_dup'
            WHEN nbt.new_doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS status,
       CASE WHEN ex.new_doc_id IS NOT NULL THEN ex.match_doc_id
            ELSE nbt.match_doc_id END AS match_doc_id,
       CASE WHEN ex.new_doc_id IS NOT NULL THEN 1.0
            ELSE nbt.est_jaccard END AS est_jaccard
FROM documents d
LEFT JOIN ex ON ex.new_doc_id = d.doc_id
LEFT JOIN near_best nbt ON nbt.new_doc_id = d.doc_id
WHERE d.doc_id % 5 = 0
""",
    doc="Cross-snapshot incremental dedup report — the daily production "
    "question: which of TODAY's newly-ingested documents already exist "
    "in YESTERDAY's corpus, exactly or nearly? Composes the exact "
    "content-hash manifest (ingest_upsert_snapshot's delta shape, "
    "reference checksum lineage `app/utils/data_integrity.py`) with "
    "the incremental MinHash-LSH probe (dedup_minhash_incremental): "
    "each new doc is classified exact_dup (sha256 hit in yesterday's "
    "manifest, match = senior copy), near_dup (best LSH candidate with "
    f"est_jaccard >= {NEAR_TAU}, ties to the smallest corpus id), or "
    "unique. At 100 TB yesterday's manifest is a persisted table "
    "bucketed by content_hash and (band_idx, band_hash) — both probes "
    "shuffle ONLY the new batch; corpus band buckets above "
    f"{BAND_CAP} docs are dropped (exact-dup mega-clusters belong to "
    "the hash layer, which catches them at O(n)).",
)
def dedup_cross_snapshot_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)

    # Layer 1: exact — the new batch probes yesterday's content-hash
    # manifest (tiny projected join, senior copy = min doc_id).
    ex = (
        new.select(F.col("doc_id").alias("new_doc_id"), F.sha2("text", 256).alias("__h"))
        .join(
            corpus.select(F.sha2("text", 256).alias("__h"), F.col("doc_id").alias("__cid")),
            "__h",
        )
        .groupBy("new_doc_id")
        .agg(F.min("__cid").alias("ex_match"))
    )

    # Layer 2: near — new-batch bands probe the capped corpus band index
    # (the dedup_minhash_incremental join), best candidate per new doc.
    sigs = minhash_signatures(docs).localCheckpoint(eager=False)
    bands = _exploded_bands(sigs)
    cb = _capped_bands(bands.where(F.col("doc_id") % 5 != 0))
    nb = bands.where(F.col("doc_id") % 5 == 0)
    a, b = nb.alias("a"), cb.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc_id"),
            F.col("b.doc_id").alias("corpus_doc_id"),
            sum(
                (F.col(f"a.sig_{i}") == F.col(f"b.sig_{i}")).cast("int")
                for i in range(N_HASHES)
            ).alias("n_equal"),
        )
        .distinct()
        .select(
            "new_doc_id",
            "corpus_doc_id",
            (F.col("n_equal") / F.lit(float(N_HASHES))).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= NEAR_TAU)
    )
    from pyspark.sql.window import Window

    wbest = Window.partitionBy("new_doc_id").orderBy(
        F.desc("est_jaccard"), F.asc("corpus_doc_id")
    )
    best = (
        cand.withColumn("rk", F.row_number().over(wbest))
        .where(F.col("rk") == 1)
        .select("new_doc_id", F.col("corpus_doc_id").alias("nd_match"), "est_jaccard")
    )

    out = (
        new.select(F.col("doc_id").alias("new_doc_id"))
        .join(ex, "new_doc_id", "left")
        .join(best, "new_doc_id", "left")
    )
    is_ex = F.col("ex_match").isNotNull()
    is_near = F.col("nd_match").isNotNull()
    return out.select(
        "new_doc_id",
        F.when(is_ex, F.lit("exact_dup"))
        .when(is_near, F.lit("near_dup"))
        .otherwise(F.lit("unique"))
        .alias("status"),
        F.when(is_ex, F.col("ex_match")).otherwise(F.col("nd_match")).alias(
            "match_doc_id"
        ),
        F.when(is_ex, F.lit(1.0)).otherwise(F.col("est_jaccard")).alias(
            "est_jaccard"
        ),
    )
