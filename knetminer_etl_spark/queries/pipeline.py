"""LLM-data-pipeline query catalog: text analysis, dedup, similarity,
event analytics — **every entry DuckDB-oracle-checked**, including the
approximate ones. The recipes that made the hard cases SQL-expressible:

* seeded-hash fingerprints/planes → md5-derived equivalents both engines
  compute bit-identically (SimHash, LSH buckets);
* probabilistic recall → OR-amplification tuned so the miss probability
  at the queried threshold is ≈1e-6, then compared against the EXACT
  result (MinHash-LSH vs true Jaccard, embedding near-dup vs all-pairs
  cosine);
* deterministic-approximation → the oracle replicates the same
  approximation (LSH probe set, IVF k-means cells via unrolled CTEs)
  rather than the exact answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime import catalog as CAT

from ..operators import dedup as DD
from ..operators import similarity as SIM
from ..operators import text as TX
from ..streaming import events as EV

# ---------------------------------------------------------------------------
# documents: text analysis
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CAT.read_parquet(spark, f"{sf_dir}/documents.parquet")


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.text_stats(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_alpha",
        "n_digits",
        "avg_token_len",
        "stopword_ratio",
        "quality_score",
    )


_SW_LISTS = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in TX.STOPWORDS.items()
}

_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
_SW_HITS = {
    lang: f"len(list_filter({_TOKS}, t -> list_contains({lst}, lower(t))))"
    for lang, lst in _SW_LISTS.items()
}
_SW_TOTAL = " + ".join(_SW_HITS.values())

TEXT_STATS_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       CAST(len({_TOKS}) AS INT) AS n_tokens,
       CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS INT) AS n_alpha,
       CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS INT) AS n_digits,
       round(CASE WHEN len({_TOKS}) > 0
             THEN (length(text) - length(regexp_replace(text, '[^\\s]', '', 'g')))
                  / len({_TOKS})
             ELSE 0.0 END, 4) AS avg_token_len,
       round(CASE WHEN len({_TOKS}) > 0
             THEN ({_SW_TOTAL}) / len({_TOKS}) ELSE 0.0 END, 4) AS stopword_ratio,
       round(
         least(len({_TOKS}) / 20.0, 1.0)
         * (1 - least(length(regexp_replace(text, '[^0-9]', '', 'g'))
                      / greatest(length(text), 1) * 5, 1.0))
         * (1 - least(length(regexp_replace(text, '[^\\.,;:!\\?''"()\\[\\]-]', '', 'g'))
                      / greatest(length(text), 1) * 10, 1.0))
         * (1 - least(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                      / greatest(length(regexp_replace(text, '[^A-Za-z]', '', 'g')), 1) * 3, 1.0))
         * least(0.2 + (CASE WHEN len({_TOKS}) > 0
                        THEN ({_SW_TOTAL}) / len({_TOKS}) ELSE 0.0 END) * 4, 1.0)
       , 4) AS quality_score
FROM documents
"""


def lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts: labeled lang × predicted lang."""
    return (
        TX.language_id(_docs(spark, sf_dir).select("doc_id", "text", "lang"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )


_LANG_CASE = f"""
CASE WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) * 2 > length(text) THEN 'zh'
     WHEN greatest({_SW_HITS['de']}, {_SW_HITS['en']}, {_SW_HITS['es']}, {_SW_HITS['fr']}) = 0 THEN 'und'
     WHEN {_SW_HITS['de']} >= {_SW_HITS['en']} AND {_SW_HITS['de']} >= {_SW_HITS['es']}
          AND {_SW_HITS['de']} >= {_SW_HITS['fr']} THEN 'de'
     WHEN {_SW_HITS['en']} >= {_SW_HITS['es']} AND {_SW_HITS['en']} >= {_SW_HITS['fr']} THEN 'en'
     WHEN {_SW_HITS['es']} >= {_SW_HITS['fr']} THEN 'es'
     ELSE 'fr' END
"""

LANG_ID_SQL = f"""
SELECT lang, {_LANG_CASE} AS lang_pred, count(*) AS n
FROM documents
GROUP BY 1, 2
"""

def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace and BPE-ish token counts per document. The BPE-ish
    segmentation (word pieces + isolated non-alnum chars, long words
    charged ceil(len/4) subword pieces) uses lookaround splitting in
    Spark; the oracle decomposes it equivalently into alnum runs +
    non-alnum-non-space char counts, since RE2 lacks lookarounds."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("ws_tokens"),
        TX.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


TOKEN_COUNTS_SQL = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS INT)
         AS ws_tokens,
       CAST(
         coalesce(list_sum(list_transform(
             regexp_extract_all(text, '[A-Za-z0-9]+'),
             r -> greatest(1, CAST(ceil(length(r) / 4) AS INT)))), 0)
         + length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
       AS INT) AS bpe_tokens
FROM documents
"""


_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text),"
    " '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 content fingerprint of normalized text (oracle-replicable
    variant of the xxhash64 fingerprint operator)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", F.md5(TX.normalize_text(F.col("text"))).alias("fingerprint")
    )


DOC_FINGERPRINTS_SQL = f"""
SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents
"""


# ---------------------------------------------------------------------------
# documents: dedup
# ---------------------------------------------------------------------------


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_docs(spark, sf_dir))


EXACT_DEDUP_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""

_SHINGLES_CTE = f"""
norm AS (SELECT doc_id, {_NORM} AS s FROM documents),
toks AS (SELECT doc_id, list_filter(string_split(s, ' '), x -> x <> '') AS t FROM norm),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN
                (CASE WHEN len(t) > 0 THEN [array_to_string(t, ' ')] ELSE [] END)
              ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in generate_series(1, len(t) - 2)])
         END AS sh
  FROM toks
),
ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh)
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.5)


# The oracle mirrors the operator's 1,000-document stop-shingle cap
# (rare AS rare: shingles shared by >1000 docs are excluded from pair
# generation on BOTH engines; no-op at the test scales, where max
# shingle doc-frequency is 25).
NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLES_CTE},
exf AS (
  SELECT ex.* FROM ex
  JOIN (SELECT s FROM ex GROUP BY s HAVING count(*) <= 1000) keep USING (s)
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
         count(*) AS inter
  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, round(inter / (n_a + n_b - inter), 6) AS jaccard
FROM pairs
WHERE round(inter / (n_a + n_b - inter), 6) >= 0.5
"""


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified MinHash-LSH near-dup pairs at the auto band shape
    (operators/dedup._auto_minhash_shape — rows-per-band sized from the
    probed distinct-content count, bands solving P(miss | j ≥ 0.6)
    ≤ 1e-6). Oracle = true Jaccard ≥ 0.6: banding only affects recall
    (bounded above), never precision, so the oracle needs no banding
    replication at ANY shape."""
    return DD.minhash_lsh_pairs(_docs(spark, sf_dir), k=3, threshold=0.6)


MINHASH_LSH_SQL = f"""
WITH {_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
         count(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, round(inter / (n_a + n_b - inter), 6) AS jaccard
FROM pairs
WHERE round(inter / (n_a + n_b - inter), 6) >= 0.6
"""


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, oracle-checked: fingerprints use the
    md5-derived 60-bit hash (SQL-reproducible, unlike xxhash64) and the
    pigeonhole band blocking is exact, so the pair set equals the
    oracle's brute-force Hamming scan over the same fingerprints."""
    return DD.simhash_pairs(
        _docs(spark, sf_dir),
        max_hamming=3,
        hash_fn=DD.md5_hash60,
        nbits=60,
    )


SIMHASH_SQL = f"""
WITH norm AS (SELECT doc_id, {_NORM} AS s FROM documents),
toks AS (SELECT doc_id,
                list_distinct(list_filter(string_split(s, ' '), x -> x <> '')) AS t
         FROM norm),
ex AS (SELECT doc_id, unnest(t) AS s FROM toks WHERE len(t) > 0),
hashed AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM ex),
votes AS (
  SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashed, generate_series(0, 59) AS g(i)
  GROUP BY doc_id, i
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN ((1::BIGINT) << i) ELSE 0 END) AS BIGINT) AS fp
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
"""


# ---------------------------------------------------------------------------
# embeddings: similarity
# ---------------------------------------------------------------------------


def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = CAT.read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return SIM.cosine_topk(emb, emb.filter("vec_id < 20"), k=5)


_DOT = (
    "list_reduce([{a}[i]::DOUBLE * {b}[i]::DOUBLE"
    " for i in generate_series(1, len({a}))], (x, y) -> x + y)"
)

EMBEDDING_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round({_DOT.format(a='qv', b='cv')}
               / (sqrt({_DOT.format(a='qv', b='qv')})
                  * sqrt({_DOT.format(a='cv', b='cv')})), 6) AS cosine
  FROM c CROSS JOIN q
  WHERE neighbor_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked against the EXACT all-pairs cosine result: the
    OR-amplified banding (6 planes x 24 bands) has analytical recall
    1 - 5.7e-6 at cosine 0.9, and the in-bucket exact-cosine verify means
    no false positives — so the LSH output equals the exact result up to
    that miss probability (recall also asserted on planted near-dups in
    tests/test_dedup.py).

    The synthetic embeddings are random (no natural pairs reach cosine
    0.9 — the query would trivially match on an empty result), so a
    deterministic near-duplicate is planted per tenth vector: a constant
    +0.03 per-dimension shift of the unit-norm dim-64 vectors lands the
    planted pair at cosine ≈ 0.97 (1/sqrt(1 + 64·0.03²)), above the
    threshold but away from both 1.0 and the 0.9 boundary. Every planted
    pair must come back through blocking + verification for the hash to
    match (miss probability at 0.97 ≈ 1e-10)."""
    emb = CAT.read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") + F.lit(0.03)
        ).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    ).unionByName(planted)
    return DD.embedding_dup_pairs(corpus, threshold=0.9)


EMBEDDING_DUP_SQL = f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000,
         list_transform(embedding, x -> x::DOUBLE + 0.03)
  FROM embeddings WHERE vec_id % 10 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_DOT.format(a='a.embedding', b='b.embedding')}
             / (sqrt({_DOT.format(a='a.embedding', b='a.embedding')})
                * sqrt({_DOT.format(a='b.embedding', b='b.embedding')})), 6) AS cosine
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE round({_DOT.format(a='a.embedding', b='b.embedding')}
            / (sqrt({_DOT.format(a='a.embedding', b='a.embedding')})
               * sqrt({_DOT.format(a='b.embedding', b='b.embedding')})), 6) >= 0.9
"""


def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine against the product-quantized corpus (4 subspaces ×
    8 sub-centroids — 12 bits/vector vs 2048): per-subspace k-means is
    the same deterministic Lloyd recipe as IVF (md5-ordered shared
    seeds, fixed rounds, (d2, cid) tie-break), so the oracle unrolls
    the identical codebooks, codes, and reconstructed scores
    (operators/quantize.py)."""
    from ..operators import quantize as SQ

    table = f"{sf_dir}/embeddings.parquet"
    emb = CAT.read_parquet(spark, table)
    # codebook training is deterministic (md5-ordered seeds, fixed Lloyd
    # rounds) — memoize it per (input table, hyperparams) so repeat
    # invocations skip the serialized per-round driver jobs
    books = CAT.memo_model(
        spark,
        table,
        ("pq_books", 4, 8, 2),
        lambda: SQ.pq_train(emb, m=4, ksub=8, iterations=2),
    )
    return SQ.pq_topk(
        emb, emb.filter("vec_id < 20"), k=5, m=4, ksub=8, iterations=2,
        books=books,
    )


def _pq_sql(m: int = 4, ksub: int = 8, iterations: int = 2, k: int = 5) -> str:
    """DuckDB twin of operators.quantize.pq_topk: per-subspace Lloyd
    rounds unrolled as CTEs (the IVF-oracle shape, m codebooks)."""
    d2 = _km_d2_sql
    dim = 64  # embeddings table dimensionality (len asserted by data)
    dsub = dim // m
    parts = [
        f"""WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings
),
seed AS (
  SELECT cid, emb FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
           emb
    FROM v) WHERE cid < {ksub}
)"""
    ]
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        sub = f"v.emb[{lo}:{hi}]"
        parts.append(
            f""",
b{s}c0 AS (SELECT cid, emb[{lo}:{hi}] AS cv FROM seed)"""
        )
        for t in range(1, iterations + 1):
            parts.append(
                f""",
b{s}a{t} AS (
  SELECT vec_id, sub, cid FROM (
    SELECT v.vec_id, {sub} AS sub, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2(sub, 'c.cv')}, c.cid) AS rn
    FROM v CROSS JOIN b{s}c{t - 1} c) WHERE rn = 1
),
b{s}m{t} AS (
  SELECT cid, list(mv ORDER BY i) AS cv
  FROM (SELECT cid, i, avg(x) AS mv
        FROM (SELECT cid, unnest(sub) AS x,
                     unnest(generate_series(1, len(sub))) AS i
              FROM b{s}a{t})
        GROUP BY cid, i)
  GROUP BY cid
),
b{s}c{t} AS (
  SELECT c.cid, COALESCE(mm.cv, c.cv) AS cv
  FROM b{s}c{t - 1} c LEFT JOIN b{s}m{t} mm USING (cid)
)"""
            )
        parts.append(
            f""",
r{s} AS (
  SELECT vec_id, cv FROM (
    SELECT v.vec_id, c.cv,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2(sub, 'c.cv')}, c.cid) AS rn
    FROM v CROSS JOIN b{s}c{iterations} c) WHERE rn = 1
)"""
        )
    concat = " || ".join(f"r{s}.cv" for s in range(m))
    joins = " ".join(f"JOIN r{s} ON r{s}.vec_id = v.vec_id" for s in range(m))
    parts.append(
        f""",
recon AS (
  SELECT v.vec_id AS neighbor_id, {concat} AS cv
  FROM v {joins}
),
q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 20),
scored AS (
  SELECT query_id, neighbor_id,
         round({_DOT.format(a='qv', b='cv')}
               / (sqrt({_DOT.format(a='qv', b='qv')})
                  * sqrt({_DOT.format(a='cv', b='cv')})), 6) AS cosine
  FROM recon CROSS JOIN q
  WHERE neighbor_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}"""
    )
    return "".join(parts)


def embedding_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine against the int8 scalar-quantized corpus (queries
    full-precision — asymmetric distance). Every step is deterministic
    double arithmetic (min/max train, ``floor(x+0.5)`` encode,
    ``mn + code*scale`` decode), so the oracle reproduces the quantized
    scores bit-for-bit, not just approximately
    (operators/quantize.py)."""
    from ..operators import quantize as SQ

    emb = CAT.read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return SQ.sq_topk(emb, emb.filter("vec_id < 20"), k=5, bits=8)


EMBEDDING_SQ_TOPK_SQL = f"""
WITH c AS (SELECT vec_id, embedding AS e FROM embeddings),
dims AS (
  SELECT unnest(generate_series(1,
           (SELECT len(embedding) FROM embeddings LIMIT 1))) AS i
),
stats AS (
  SELECT i, min(e[i]::DOUBLE) AS mn, max(e[i]::DOUBLE) AS mx
  FROM c CROSS JOIN dims GROUP BY i
),
params AS (
  SELECT list(mn ORDER BY i) AS mns,
         list((mx - mn) / 255 ORDER BY i) AS scs
  FROM stats
),
recon AS (
  SELECT vec_id AS neighbor_id,
         [CASE WHEN scs[i] = 0 THEN mns[i]
               ELSE mns[i] + least(greatest(
                      floor((e[i]::DOUBLE - mns[i]) / scs[i] + 0.5), 0), 255)
                    * scs[i] END
          for i in generate_series(1, len(e))] AS cv
  FROM c CROSS JOIN params
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < 20),
scored AS (
  SELECT query_id, neighbor_id,
         round({_DOT.format(a='qv', b='cv')}
               / (sqrt({_DOT.format(a='qv', b='qv')})
                  * sqrt({_DOT.format(a='cv', b='cv')})), 6) AS cosine
  FROM recon CROSS JOIN q
  WHERE neighbor_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN top-k, oracle-checked end to end: with md5-derived
    plane coefficients the bucketing itself is SQL-reproducible, so the
    oracle replicates the *same* probe set and in-bucket exact scoring —
    the approximation is identical on both sides, making even an
    approximate operator hash-comparable."""
    emb = CAT.read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return SIM.lsh_topk(
        emb, emb.filter("vec_id < 20"), k=5, bucket_fn=SIM.sign_bucket_md5
    )


def _lsh_bucket_sql(vec: str, n_planes: int = 6) -> str:
    """DuckDB twin of operators.similarity.sign_bucket_md5."""
    bits = []
    for p in range(n_planes):
        coef = (
            f"((('0x' || substr(md5((i-1)::VARCHAR || ',{p}'), 1, 15))::BIGINT"
            f" % 2001 - 1000) / 1000.0)"
        )
        proj = (
            f"list_reduce([{vec}[i]::DOUBLE * {coef}"
            f" for i in generate_series(1, len({vec}))], (x, y) -> x + y)"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k, oracle-checked end to end: the k-means quantizer is
    deterministic (md5-ordered init, fixed Lloyd iterations, tie-broken
    assignment), so DuckDB replicates the identical cells, probe set and
    in-cell exact scoring via unrolled CTEs."""
    emb = CAT.read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return SIM.ivf_topk(
        emb, emb.filter("vec_id < 20"), k=5, nlist=8, nprobe=2, iterations=3
    )


def _km_d2_sql(vec: str, cent: str) -> str:
    """Squared-L2 list fold (sequential — matches the Spark fold order)."""
    return (
        f"list_reduce([({vec}[i] - {cent}[i]) * ({vec}[i] - {cent}[i])"
        f" for i in generate_series(1, len({vec}))], (x, y) -> x + y)"
    )


def kmeans_ctes(nlist: int, iterations: int, source_sql: str | None = None) -> str:
    """DuckDB twin of operators.similarity.kmeans_fit as a WITH-prefix:
    md5-ordered init + ``iterations`` unrolled Lloyd rounds, ending in
    centroid CTE ``c{iterations}`` over vector CTE ``v``. Shared by the
    IVF top-k, k-means profile, and k-means SemDeDup oracles;
    ``source_sql`` overrides the ``v`` body (must yield (vec_id, emb))."""
    src = source_sql or (
        "SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb"
        " FROM embeddings"
    )
    parts = [
        f"""WITH v AS (
  {src}
),
c0 AS (
  SELECT cid, emb AS cv FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
           emb
    FROM v) WHERE cid < {nlist}
)"""
    ]
    for t in range(1, iterations + 1):
        parts.append(
            f""",
a{t} AS (
  SELECT vec_id, emb, cid FROM (
    SELECT v.vec_id, v.emb, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_km_d2_sql('v.emb', 'c.cv')}, c.cid) AS rn
    FROM v CROSS JOIN c{t - 1} c) WHERE rn = 1
),
m{t} AS (
  SELECT cid, list(m ORDER BY i) AS cv
  FROM (SELECT cid, i, avg(x) AS m
        FROM (SELECT cid, unnest(emb) AS x,
                     unnest(generate_series(1, len(emb))) AS i
              FROM a{t})
        GROUP BY cid, i)
  GROUP BY cid
),
c{t} AS (
  SELECT c.cid, COALESCE(m.cv, c.cv) AS cv
  FROM c{t - 1} c LEFT JOIN m{t} m USING (cid)
)"""
        )
    return "".join(parts)


def _ivf_sql(nlist: int = 8, nprobe: int = 2, iterations: int = 3, k: int = 5) -> str:
    """DuckDB twin of operators.similarity.ivf_topk: Lloyd iterations
    unrolled as chained CTEs (same shape as the PageRank oracle)."""

    d2 = _km_d2_sql

    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce([{a}[i] * {b}[i]"
            f" for i in generate_series(1, len({a}))], (x, y) -> x + y)"
        )

    parts = [kmeans_ctes(nlist, iterations)]
    cf = f"c{iterations}"
    parts.append(
        f""",
af AS (
  SELECT vec_id, emb, cid FROM (
    SELECT v.vec_id, v.emb, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2('v.emb', 'c.cv')}, c.cid) AS rn
    FROM v CROSS JOIN {cf} c) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 20),
qp AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {d2('q.qv', 'c.cv')}, c.cid) AS rn
    FROM q CROSS JOIN {cf} c) WHERE rn <= {nprobe}
),
scored AS (
  SELECT qp.query_id, a.vec_id AS neighbor_id,
         round({dot('qp.qv', 'a.emb')}
               / (sqrt({dot('qp.qv', 'qp.qv')})
                  * sqrt({dot('a.emb', 'a.emb')})), 6) AS cosine
  FROM qp JOIN af a USING (cid)
  WHERE a.vec_id <> qp.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}"""
    )
    return "".join(parts)


EMBEDDING_IVF_TOPK_SQL = _ivf_sql(nlist=8, nprobe=2, iterations=3, k=5)

# _pq_sql needs _km_d2_sql, defined above — evaluated here, not at its def.
EMBEDDING_PQ_TOPK_SQL = _pq_sql(m=4, ksub=8, iterations=2, k=5)


EMBEDDING_LSH_TOPK_SQL = f"""
WITH cb AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bkt
  FROM embeddings
),
qb AS (SELECT vec_id AS query_id, embedding AS qv, bkt AS qbkt
       FROM cb WHERE vec_id < 20),
probes AS (
  SELECT query_id, qv,
         unnest(list_prepend(qbkt,
                [xor(qbkt, {1 << 0}), xor(qbkt, {1 << 1}), xor(qbkt, {1 << 2}),
                 xor(qbkt, {1 << 3}), xor(qbkt, {1 << 4}), xor(qbkt, {1 << 5})])) AS bkt
  FROM qb
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         round({_DOT.format(a='p.qv', b='c.embedding')}
               / (sqrt({_DOT.format(a='p.qv', b='p.qv')})
                  * sqrt({_DOT.format(a='c.embedding', b='c.embedding')})), 6) AS cosine
  FROM probes p JOIN cb c ON c.bkt = p.bkt AND c.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# events: analytics (batch twins of the streaming operators)
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.load_events(spark, f"{sf_dir}/events.parquet")


def events_tumbling_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.tumbling_agg(_events(spark, sf_dir), window_minutes=5)


EVENTS_TUMBLING_SQL = """
SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


def events_sliding_10m5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min window / 5 min slide): each event lands in
    two windows — the oracle materializes both bucket starts per event."""
    return EV.sliding_agg(_events(spark, sf_dir), 10, 5)


EVENTS_SLIDING_SQL = """
SELECT window_start, event_type, count(*) AS n_events
FROM (
  SELECT unnest([CAST(floor(epoch(ts) / 300) * 300 AS BIGINT),
                 CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT)]) AS window_start,
         event_type
  FROM events
) t
GROUP BY window_start, event_type
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.sessionize(_events(spark, sf_dir), gap_minutes=30)


EVENTS_SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT)
                      - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) >= 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
)
SELECT user_id,
       min(CAST(floor(epoch(ts)) AS BIGINT)) AS session_start,
       count(*) AS n_events,
       max(CAST(floor(epoch(ts)) AS BIGINT))
         - min(CAST(floor(epoch(ts)) AS BIGINT)) AS duration_secs
FROM s
GROUP BY user_id, sess
"""


def events_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.user_activity_rollup(_events(spark, sf_dir))


EVENTS_USER_DAILY_SQL = """
SELECT user_id,
       CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
FROM events
GROUP BY 1, 2
"""


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction from the props JSON column."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.avg(k), 4).alias("avg_k"),
            F.count(F.when(k > 50, 1)).alias("n_high"),
        )
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
       count(CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) > 50 THEN 1 END) AS n_high
FROM events
GROUP BY event_type
"""


def events_asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each click event, the most recent error value of the same user
    at-or-before the click (as-of join — no native Spark equivalent)."""
    from ..operators.asof import asof_join

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(clicks, errors, on="ts", by="user_id", value_cols=["value"])
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts"),
        F.col("value_right").alias("last_error_value"),
    )


EVENTS_ASOF_SQL = """
SELECT c.event_id, c.user_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS ts,
       e.value AS last_error_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'error') e
  ON c.user_id = e.user_id AND c.ts >= e.ts
"""


def events_error_window_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: clicks falling inside any error's trailing
    6-hour window, counted per user. Exercises the interval-bucketed
    equi-join plan (BroadcastNestedLoopJoin avoided); the oracle is the
    plain inequality join, tractable at oracle scale."""
    from ..operators.rangejoin import range_join

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 6 HOURS")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    j = range_join(
        clicks,
        errors,
        point_ts="ts",
        start_col="w_start",
        end_col="w_end",
        by="user_id",
        bucket_secs=3600,
    )
    return j.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


EVENTS_RANGE_JOIN_SQL = """
SELECT c.user_id, count(*) AS n_pairs
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'error') r
  ON c.user_id = r.user_id
 AND c.ts >= r.ts - INTERVAL 6 HOUR
 AND c.ts <= r.ts
GROUP BY c.user_id
"""


def events_latest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins compaction: the newest event per (user, type),
    deterministic via the unique event_id tiebreak. Implemented as a
    struct-max aggregate (map-side combining) rather than a
    row_number window — see operators/cdc.py."""
    from ..operators.cdc import latest_by_key

    e = _events(spark, sf_dir).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    latest = latest_by_key(e, ["user_id", "event_type"], ["ts", "event_id"])
    return latest.select(
        "user_id",
        "event_type",
        "event_id",
        F.col("ts").cast("long").alias("ts"),
        "value",
    ).orderBy("user_id", "event_type")


EVENTS_LATEST_SQL = """
SELECT user_id, event_type, event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id, event_type
"""


def events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension of each user's event_type: one
    validity interval per accepted change, consecutive same-type events
    suppressed (SCD2 no-op-change rule), ordered by (ts, event_id).
    See operators/cdc.py:scd2."""
    from ..operators.cdc import scd2

    e = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    dim = scd2(
        e,
        keys=["user_id"],
        ts_col="ts",
        order_by=["ts", "event_id"],
        dedup_consecutive=["event_type"],
    )
    return dim.select(
        "user_id",
        "event_type",
        F.col("valid_from").cast("long").alias("valid_from"),
        F.col("valid_to").cast("long").alias("valid_to"),
        "is_current",
    )


EVENTS_SCD2_SQL = """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
kept AS (
  SELECT user_id, ts, event_id, event_type FROM seq
  WHERE prev IS NULL OR event_type <> prev
),
iv AS (
  SELECT user_id, event_type, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM kept
)
SELECT user_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
       CAST(floor(epoch(nxt)) AS BIGINT) AS valid_to,
       nxt IS NULL AS is_current
FROM iv
"""


def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of value per event type."""
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.count("*").alias("n"),
    )


EVENTS_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99,
       count(*) AS n
FROM events
GROUP BY event_type
"""


QUERIES = {
    "events_asof_last_error": events_asof_last_error,
    "events_error_window_clicks": events_error_window_clicks,
    "events_value_percentiles": events_value_percentiles,
    "events_latest_compaction": events_latest_compaction,
    "events_scd2": events_scd2,
    "text_stats": text_stats,
    "token_counts": token_counts,
    "lang_id_counts": lang_id_counts,
    "doc_fingerprints": doc_fingerprints,
    "exact_dedup": exact_dedup,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "simhash_pairs": simhash_pairs,
    "embedding_topk": embedding_topk,
    "embedding_dup_pairs": embedding_dup_pairs,
    "embedding_sq_topk": embedding_sq_topk,
    "embedding_pq_topk": embedding_pq_topk,
    "embedding_lsh_topk": embedding_lsh_topk,
    "embedding_ivf_topk": embedding_ivf_topk,
    "events_tumbling_5m": events_tumbling_5m,
    "events_sliding_10m5m": events_sliding_10m5m,
    "events_sessionize": events_sessionize,
    "events_user_daily": events_user_daily,
    "events_json_extract": events_json_extract,
}

ORACLES = {
    "events_asof_last_error": EVENTS_ASOF_SQL,
    "events_error_window_clicks": EVENTS_RANGE_JOIN_SQL,
    "events_value_percentiles": EVENTS_PERCENTILES_SQL,
    "events_latest_compaction": EVENTS_LATEST_SQL,
    "events_scd2": EVENTS_SCD2_SQL,
    "text_stats": TEXT_STATS_SQL,
    "token_counts": TOKEN_COUNTS_SQL,
    "lang_id_counts": LANG_ID_SQL,
    "doc_fingerprints": DOC_FINGERPRINTS_SQL,
    "exact_dedup": EXACT_DEDUP_SQL,
    "ngram_jaccard_pairs": NGRAM_JACCARD_SQL,
    "minhash_lsh_pairs": MINHASH_LSH_SQL,
    "simhash_pairs": SIMHASH_SQL,
    "embedding_topk": EMBEDDING_TOPK_SQL,
    "embedding_dup_pairs": EMBEDDING_DUP_SQL,
    "embedding_sq_topk": EMBEDDING_SQ_TOPK_SQL,
    "embedding_pq_topk": EMBEDDING_PQ_TOPK_SQL,
    "embedding_lsh_topk": EMBEDDING_LSH_TOPK_SQL,
    "embedding_ivf_topk": EMBEDDING_IVF_TOPK_SQL,
    "events_tumbling_5m": EVENTS_TUMBLING_SQL,
    "events_sliding_10m5m": EVENTS_SLIDING_SQL,
    "events_sessionize": EVENTS_SESSIONIZE_SQL,
    "events_user_daily": EVENTS_USER_DAILY_SQL,
    "events_json_extract": EVENTS_JSON_SQL,
    # (all queries oracle-checked)
}


# ---------------------------------------------------------------------------
# Incremental dedup (batch ingestion against a saved index)
# ---------------------------------------------------------------------------

_INC_SPLIT = 400  # docs >= 400 are "the new batch" at any sf


def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs INVOLVING the latest ingest batch (doc_id >= 400),
    found incrementally: the batch hashes itself and joins the PRIOR
    corpus's saved band index — old-vs-old is never re-paired
    (operators/dedup.py:incremental_minhash_pairs; equality with a full
    rebuild pinned in tests). Oracle = true Jaccard >= 0.6 restricted to
    pairs touching the batch (id_b >= split suffices: id_b is the max),
    exact up to the same <1e-6 LSH miss probability as the full-corpus
    minhash oracle (r=2, b=32)."""
    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") < _INC_SPLIT)
    new = docs.filter(F.col("doc_id") >= _INC_SPLIT)
    index = DD.minhash_band_rows(old, num_perm=64, bands=32, k=3)
    return DD.incremental_minhash_pairs(
        new, index, docs, num_perm=64, bands=32, k=3, threshold=0.6
    )


DOC_INCREMENTAL_DEDUP_SQL = f"""
WITH {_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
         count(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, round(inter / (n_a + n_b - inter), 6) AS jaccard
FROM pairs
WHERE round(inter / (n_a + n_b - inter), 6) >= 0.6
  AND id_b >= {_INC_SPLIT}
"""

QUERIES.update({"doc_incremental_dedup": doc_incremental_dedup})
ORACLES.update({"doc_incremental_dedup": DOC_INCREMENTAL_DEDUP_SQL})


# ---------------------------------------------------------------------------
# Record linkage (entity resolution)
# ---------------------------------------------------------------------------


def customer_link_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidates among customers: drop-one-position
    blocking over the 18-char name (pigeonhole-exact for Hamming-1
    variants — re-keyed serials, single-character typos), scored by
    normalized edit similarity, kept at score ≥ 0.94 (= edit distance
    ≤ 1 at this length). operators/linkage.py."""
    from ..operators import linkage as L

    cust = CAT.read_parquet(spark, f"{sf_dir}/customer.parquet")
    return L.link_records(
        cust,
        "c_custkey",
        L.drop_position_keys(F.col("c_name"), 18),
        {"c_name": 1.0},
        min_score=0.94,
    ).orderBy("id_a", "id_b")


CUSTOMER_LINK_SQL = """
WITH keyed AS (
  SELECT c_custkey, c_name,
         unnest([CAST(i AS VARCHAR) || ':' || substr(c_name, 1, i)
                 || substr(c_name, i + 2)
                 for i in generate_series(0, 17)]) AS k
  FROM customer
),
cand AS (
  SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
  FROM keyed a JOIN keyed b ON a.k = b.k AND a.c_custkey < b.c_custkey
)
SELECT id_a, id_b,
       round(1.0 - levenshtein(a.c_name, b.c_name)
             / greatest(length(a.c_name), length(b.c_name)), 6) AS score
FROM cand
JOIN customer a ON a.c_custkey = id_a
JOIN customer b ON b.c_custkey = id_b
WHERE round(1.0 - levenshtein(a.c_name, b.c_name)
            / greatest(length(a.c_name), length(b.c_name)), 6) >= 0.94
ORDER BY id_a, id_b
"""

QUERIES.update({"customer_link_pairs": customer_link_pairs})
ORACLES.update({"customer_link_pairs": CUSTOMER_LINK_SQL})


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------


def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding corpus (operators/dedup.semantic_dedup):
    md5-seeded deterministic centroids, within-cluster cosine keep rule.
    Same +0.03 near-twin planting as ``embedding_dup_pairs`` so the
    drop rule has real work to do (planted twins sit at cosine ≈ 0.97 >
    0.95); the oracle unrolls the identical centroid draw, assignment,
    and keep rule in SQL."""
    emb = CAT.read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") + F.lit(0.03)
        ).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    ).unionByName(planted)

    # the md5-seeded centroid draw is deterministic over the immutable
    # parquet input — memoize it per (table, k) so repeat invocations
    # skip the draw's driver-synchronized sort-limit job (the operator's
    # documented frozen-model-state form)
    def _draw() -> list[list[float]]:
        rows = (
            corpus.select(
                F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")
            )
            .orderBy(F.md5(F.col("_id").cast("string")), "_id")
            .limit(8)
            .collect()
        )
        return [list(r["_v"]) for r in rows]

    cents = CAT.memo_model(
        spark, f"{sf_dir}/embeddings.parquet", ("semdedup_centroids", 8), _draw
    )
    # presentation_sort, not orderBy: the range exchange's sampling pass
    # would execute the whole keep-rule chain a second time (bounded
    # audit-sized output — the documented use)
    from ..operators.util import presentation_sort

    return presentation_sort(
        DD.semantic_dedup(corpus, n_clusters=8, threshold=0.95, centroids=cents),
        "vec_id",
    )


EMBEDDING_SEMANTIC_DEDUP_SQL = f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000,
         list_transform(embedding, x -> x::DOUBLE + 0.03)
  FROM embeddings WHERE vec_id % 10 = 0
),
cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cidx, v
  FROM (SELECT * FROM corpus
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)
),
scored AS (
  SELECT c.vec_id, cent.cidx,
         round({_DOT.format(a='c.v', b='cent.v')}
               / (sqrt({_DOT.format(a='c.v', b='c.v')})
                  * sqrt({_DOT.format(a='cent.v', b='cent.v')})), 6) AS cos
  FROM corpus c CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, cidx AS cluster FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cidx) AS rn
    FROM scored) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM corpus a
  JOIN assigned aa ON aa.vec_id = a.vec_id
  JOIN assigned ab ON ab.cluster = aa.cluster AND ab.vec_id > aa.vec_id
  JOIN corpus b ON b.vec_id = ab.vec_id
  WHERE round({_DOT.format(a='a.v', b='b.v')}
              / (sqrt({_DOT.format(a='a.v', b='a.v')})
                 * sqrt({_DOT.format(a='b.v', b='b.v')})), 6) >= 0.95
)
SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster,
       (d.vec_id IS NULL) AS keep
FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id
ORDER BY a.vec_id
"""

QUERIES.update({"embedding_semantic_dedup": embedding_semantic_dedup})
ORACLES.update({"embedding_semantic_dedup": EMBEDDING_SEMANTIC_DEDUP_SQL})


def embedding_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`embedding_semantic_dedup` with the operator's
    ``n_clusters="auto"`` mode: k = max(8, ⌊√n⌋) scales the cluster
    count with the corpus (SemDeDup's k grows with N; 8 is a
    toy-constant pin for the fixed-k oracle). The oracle computes the
    identical k from its own COUNT(*) — the draw stays deterministic
    because centroids are the k smallest (md5(id), id) rows whatever
    k is."""
    emb = CAT.read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") + F.lit(0.03)
        ).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    ).unionByName(planted)
    return DD.semantic_dedup(
        corpus, n_clusters="auto", threshold=0.95
    ).orderBy("vec_id")


# same program as the pinned-k oracle with the centroid draw bounded by
# a computed k (floor(sqrt(n)), floored at 8) instead of LIMIT 8 — the
# +1e-9 nudge guards float-sqrt landing just under an exact square,
# where Python's integer isqrt would round up
EMBEDDING_SEMANTIC_DEDUP_AUTO_SQL = EMBEDDING_SEMANTIC_DEDUP_SQL.replace(
    """cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cidx, v
  FROM (SELECT * FROM corpus
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)
),""",
    """kk AS (
  SELECT GREATEST(8, CAST(FLOOR(SQRT(COUNT(*) * 1.0) + 1e-9) AS INT)) AS k
  FROM corpus
),
cent AS (
  SELECT cidx, v FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
             - 1 AS cidx, v
    FROM corpus) s
  WHERE s.cidx < (SELECT k FROM kk)
),""",
)
assert "kk AS" in EMBEDDING_SEMANTIC_DEDUP_AUTO_SQL  # replace() must hit

QUERIES.update({"embedding_semantic_dedup_auto": embedding_semantic_dedup_auto})
ORACLES.update(
    {"embedding_semantic_dedup_auto": EMBEDDING_SEMANTIC_DEDUP_AUTO_SQL}
)


# ---------------------------------------------------------------------------
# Semantic (embedding-level) decontamination
# ---------------------------------------------------------------------------


def embedding_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-level benchmark-leak report
    (operators/contamination.semantic_contamination): train = vectors
    with ``vec_id % 10 != 7``; eval = the %10==7 held-out slice PLUS
    planted paraphrase leaks — perturbed (+0.02) copies of the %10==3
    train vectors — so the flag has true positives (the %10==3 rows sit
    at cos ≈ 0.98 to their planted eval twin) the lexical n-gram pass
    could never see. The oracle replays the identical split, planting,
    and max-cosine fold."""
    from ..operators import contamination as CT

    emb = CAT.read_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    train = emb.filter(F.col("vec_id") % 10 != 7)
    leaks = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + 20_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x + F.lit(0.02)).alias(
            "embedding"
        ),
    )
    test = emb.filter(F.col("vec_id") % 10 == 7).unionByName(leaks)
    return CT.semantic_contamination(
        train, test, threshold=0.95
    ).orderBy("vec_id")


EMBEDDING_SEMANTIC_DECON_SQL = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
train AS (SELECT vec_id, v FROM emb WHERE vec_id % 10 != 7),
test AS (
  SELECT v FROM emb WHERE vec_id % 10 = 7
  UNION ALL
  SELECT list_transform(v, x -> x + 0.02) FROM emb WHERE vec_id % 10 = 3
)
SELECT t.vec_id,
       max(round({_DOT.format(a='t.v', b='s.v')}
                 / (sqrt({_DOT.format(a='t.v', b='t.v')})
                    * sqrt({_DOT.format(a='s.v', b='s.v')})), 6))
         AS max_test_cos,
       max(round({_DOT.format(a='t.v', b='s.v')}
                 / (sqrt({_DOT.format(a='t.v', b='t.v')})
                    * sqrt({_DOT.format(a='s.v', b='s.v')})), 6)) >= 0.95
         AS contaminated
FROM train t CROSS JOIN test s
GROUP BY t.vec_id
ORDER BY t.vec_id
"""

def embedding_semantic_decontamination_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`embedding_semantic_decontamination`'s survivor set via the
    sign-LSH candidate-blocked operator
    (operators/contamination.semantic_decontaminate_banded) — the scale
    path for when the evaluation suite outgrows per-row brute force.
    Runs against the BRUTE-FORCE oracle (the doc_span_scrub
    evidence pattern): the hash-match is the proof the blocking lost no
    flag (per-pair miss ≤ 2e-8 at cos ≥ 0.95 with 6 planes × 24 bands;
    false flags impossible — candidates verify with the exact cosine)."""
    from ..operators import contamination as CT

    emb = CAT.read_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    train = emb.filter(F.col("vec_id") % 10 != 7)
    leaks = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + 20_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x + F.lit(0.02)).alias(
            "embedding"
        ),
    )
    test = emb.filter(F.col("vec_id") % 10 == 7).unionByName(leaks)
    out = CT.semantic_decontaminate_banded(train, test, threshold=0.95)
    return out.select("vec_id").orderBy("vec_id")


EMBEDDING_SEMANTIC_DECON_BANDED_SQL = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
train AS (SELECT vec_id, v FROM emb WHERE vec_id % 10 != 7),
test AS (
  SELECT v FROM emb WHERE vec_id % 10 = 7
  UNION ALL
  SELECT list_transform(v, x -> x + 0.02) FROM emb WHERE vec_id % 10 = 3
)
SELECT t.vec_id
FROM train t
WHERE NOT EXISTS (
  SELECT 1 FROM test s
  WHERE round({_DOT.format(a='t.v', b='s.v')}
              / (sqrt({_DOT.format(a='t.v', b='t.v')})
                 * sqrt({_DOT.format(a='s.v', b='s.v')})), 6) >= 0.95
)
ORDER BY vec_id
"""


def embedding_semantic_decontamination_auto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The DEFAULT decontamination entry point
    (operators/contamination.semantic_decontaminate): a
    size probe of the evaluation side picks brute force only while the
    suite is small (|test| ≤ n_planes·n_bands), else the sign-LSH
    banded plan — the ``n_clusters="auto"`` treatment applied to
    decontamination, so nothing upstream has to know when the eval
    suite outgrows per-row brute force. Both paths provably emit the
    same survivor set, so one brute-force oracle covers whichever the
    probe picks at each scale factor (the sweep crosses the switch
    point: tiny suites go brute, the sf0.01+ suites go banded)."""
    from ..operators import contamination as CT

    emb = CAT.read_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    train = emb.filter(F.col("vec_id") % 10 != 7)
    leaks = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + 20_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x + F.lit(0.02)).alias(
            "embedding"
        ),
    )
    test = emb.filter(F.col("vec_id") % 10 == 7).unionByName(leaks)
    out = CT.semantic_decontaminate(train, test, threshold=0.95)
    return out.select("vec_id").orderBy("vec_id")


QUERIES.update(
    {
        "embedding_semantic_decontamination": embedding_semantic_decontamination,
        "embedding_semantic_decontamination_banded": (
            embedding_semantic_decontamination_banded
        ),
        "embedding_semantic_decontamination_auto": (
            embedding_semantic_decontamination_auto
        ),
    }
)
ORACLES.update(
    {
        "embedding_semantic_decontamination": EMBEDDING_SEMANTIC_DECON_SQL,
        "embedding_semantic_decontamination_banded": (
            EMBEDDING_SEMANTIC_DECON_BANDED_SQL
        ),
        # same survivor set whichever physical path the probe picks
        "embedding_semantic_decontamination_auto": (
            EMBEDDING_SEMANTIC_DECON_BANDED_SQL
        ),
    }
)


def embedding_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs INVOLVING the latest ingest batch (the
    planted +0.03 twins, ids ≥ 10M), found incrementally: the batch
    assigns/bands only itself under FROZEN centroids and joins the
    prior corpus's saved semantic band index — old-vs-old is never
    re-paired (operators/dedup.incremental_semantic_pairs; union
    equality with the full banded run pinned in tests). Oracle = exact
    same-cluster cosine ≥ 0.95 restricted to pairs touching the batch
    (id_b ≥ 10M suffices: planted ids are the max), exact up to the
    1.4e-6 per-pair LSH miss probability at this threshold."""
    emb = CAT.read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    old = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    new = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") + F.lit(0.03)
        ).alias("embedding"),
    )
    corpus = old.unionByName(new)
    # frozen model state: the full-corpus md5 draw (what a first
    # offline fit would have pinned); the oracle replays the same draw
    cents = [
        list(r["embedding"])
        for r in corpus.orderBy(
            F.md5(F.col("vec_id").cast("string")), "vec_id"
        ).limit(8).collect()
    ]
    index = DD.semantic_band_rows(old, cents)
    return DD.incremental_semantic_pairs(
        new, index, corpus, cents, threshold=0.95
    ).orderBy("id_a", "id_b")


EMBEDDING_INCREMENTAL_DEDUP_SQL = f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000,
         list_transform(embedding, x -> x::DOUBLE + 0.03)
  FROM embeddings WHERE vec_id % 10 = 0
),
cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cidx, v
  FROM (SELECT * FROM corpus
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)
),
scored AS (
  SELECT c.vec_id, cent.cidx,
         round({_DOT.format(a='c.v', b='cent.v')}
               / (sqrt({_DOT.format(a='c.v', b='c.v')})
                  * sqrt({_DOT.format(a='cent.v', b='cent.v')})), 6) AS cos
  FROM corpus c CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, cidx AS cluster FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cidx) AS rn
    FROM scored) WHERE rn = 1
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_DOT.format(a='av.v', b='bv.v')}
             / (sqrt({_DOT.format(a='av.v', b='av.v')})
                * sqrt({_DOT.format(a='bv.v', b='bv.v')})), 6) AS cosine
FROM assigned a
JOIN assigned b ON b.cluster = a.cluster AND b.vec_id > a.vec_id
JOIN corpus av ON av.vec_id = a.vec_id
JOIN corpus bv ON bv.vec_id = b.vec_id
WHERE b.vec_id >= 10000000
  AND round({_DOT.format(a='av.v', b='bv.v')}
            / (sqrt({_DOT.format(a='av.v', b='av.v')})
               * sqrt({_DOT.format(a='bv.v', b='bv.v')})), 6) >= 0.95
ORDER BY id_a, id_b
"""

QUERIES.update({"embedding_incremental_dedup": embedding_incremental_dedup})
ORACLES.update({"embedding_incremental_dedup": EMBEDDING_INCREMENTAL_DEDUP_SQL})


# ---------------------------------------------------------------------------
# HTML boilerplate extraction
# ---------------------------------------------------------------------------


def doc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate strip (operators/text.html_extract): each
    document is deterministically wrapped in a realistic HTML shell
    (head/style/script with entity traps, headings, comments, footer),
    entities escaped and newlines rewritten to <br/>, then the extractor
    recovers the text. Output is the compact audit (sizes + md5 of the
    cleaned text); the oracle builds the identical shell and runs the
    identical regex program (dialect-intersection regexes only)."""
    esc = F.replace(
        TX.html_escape(F.col("text")), F.lit("\n"), F.lit("<br/>")
    )
    html = F.concat(
        F.lit(
            '<html><head><title>d</title><style>p {color: red}</style>'
            '<script>if (1 < 2 && x) { alert("hi"); }</script>'
            "<!-- generated --></head><body><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        esc,
        F.lit("</p><div>footer&nbsp;&copy;2024</div></body></html>"),
    )
    clean = TX.html_extract(html)
    from ..operators.util import fan_out

    # fan_out: the multi-regex extraction program is the whole query —
    # a single-file input would run it on one task
    return (
        fan_out(_docs(spark, sf_dir))
        .select(
            "doc_id",
            F.length(html).cast("int").alias("n_raw"),
            F.length(clean).cast("int").alias("n_clean"),
            F.md5(clean).alias("clean_md5"),
        )
    )


_HTML_ESC_SQL = (
    "replace(replace(replace(replace(replace(replace(text,"
    " '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),"
    " '\"', '&quot;'), '''', '&#39;'), chr(10), '<br/>')"
)

_HTML_WRAP_SQL = (
    "'<html><head><title>d</title><style>p {color: red}</style>"
    "<script>if (1 < 2 && x) { alert(\"hi\"); }</script>"
    "<!-- generated --></head><body><h1>Doc ' || CAST(doc_id AS VARCHAR)"
    " || '</h1><p>' || " + _HTML_ESC_SQL +
    " || '</p><div>footer&nbsp;&copy;2024</div></body></html>'"
)

DOC_HTML_EXTRACT_SQL = f"""
WITH h AS (SELECT doc_id, {_HTML_WRAP_SQL} AS html FROM documents),
c AS (SELECT doc_id, html, {TX.html_extract_sql('html')} AS clean FROM h)
SELECT doc_id, CAST(length(html) AS INT) AS n_raw,
       CAST(length(clean) AS INT) AS n_clean, md5(clean) AS clean_md5
FROM c
"""

QUERIES.update({"doc_html_extract": doc_html_extract})
ORACLES.update({"doc_html_extract": DOC_HTML_EXTRACT_SQL})


# ---------------------------------------------------------------------------
# Repeated-span scrub (exact substring dedup)
# ---------------------------------------------------------------------------


def doc_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window exact substring dedup (operators/dedup.
    repeated_span_scrub, Lee et al. 2022): every 10-token span occurring
    more than once in the corpus is removed except its globally-first
    occurrence. Output is the compact audit (token counts + md5 of the
    scrubbed text); the oracle replays the identical window ranking and
    span coverage in SQL. Runs the operator's DEFAULT hashed-window
    mode — the ranking shuffle is keyed by ``xxhash64(window)``
    (constant 8 bytes per window, the 100 TB shape) instead of the
    k-token window text. Output is identical to the text-keyed parity
    mode barring a ~n²/2⁶⁵ hash collision, so it runs against the same
    text-keyed DuckDB oracle — the hash-match IS the evidence the cheap
    shuffle key loses nothing. ``doc_span_scrub_parity`` keeps the
    bit-certain text-keyed mode in the oracle sweep."""
    out = DD.repeated_span_scrub(_docs(spark, sf_dir), k=10, hash_windows=True)
    # no global sort: the audit is one row per document (corpus-sized at
    # scale) and both the driver harness and the local checker sort rows
    # canonically before hashing — a total order here would only pay a
    # range exchange on the whole relation
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5("clean_text").alias("clean_md5"),
    )


def doc_span_scrub_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`doc_span_scrub` in the text-keyed ORACLE-PARITY mode
    (``hash_windows=False``): the window text itself is the ranking
    key, so equality with the SQL twin is bit-certain rather than
    collision-bounded. Sweep-only — the headline benches the hashed
    production mode."""
    out = DD.repeated_span_scrub(_docs(spark, sf_dir), k=10, hash_windows=False)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5("clean_text").alias("clean_md5"),
    )


DOC_SPAN_SCRUB_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
w1 AS (
  SELECT doc_id,
         unnest([{{'pos': i - 1, 'gram': array_to_string(toks[i:i+9], ' ')}}
                 for i in generate_series(1, greatest(len(toks) - 9, 0))]) AS w
  FROM t
),
wins AS (SELECT doc_id, w.pos AS pos, w.gram AS gram FROM w1),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM wins
),
cov AS (
  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 9)) AS tpos
  FROM ranked WHERE rn > 1
),
tok_rows AS (
  SELECT doc_id,
         unnest([{{'tpos': i - 1, 'tok': toks[i]}}
                 for i in generate_series(1, len(toks))]) AS tr
  FROM t
),
kept AS (
  SELECT r.doc_id, r.tr.tpos AS tpos, r.tr.tok AS tok
  FROM tok_rows r
  LEFT JOIN cov ON cov.doc_id = r.doc_id AND cov.tpos = r.tr.tpos
  WHERE cov.tpos IS NULL
),
rebuilt AS (
  SELECT doc_id, array_to_string(list(tok ORDER BY tpos), ' ') AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens,
       CAST(len(t.toks) - coalesce(r.n_kept, 0) AS INT) AS n_removed,
       md5(coalesce(r.clean_text, '')) AS clean_md5
FROM t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
"""

QUERIES.update(
    {
        "doc_span_scrub": doc_span_scrub,
        "doc_span_scrub_parity": doc_span_scrub_parity,
    }
)
ORACLES.update(
    {
        "doc_span_scrub": DOC_SPAN_SCRUB_SQL,
        "doc_span_scrub_parity": DOC_SPAN_SCRUB_SQL,
    }
)


# ---------------------------------------------------------------------------
# Semantic dedup with true k-means clusters
# ---------------------------------------------------------------------------


def embedding_semantic_dedup_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over TRUE k-means clusters (operators/dedup.
    semantic_dedup_kmeans): deterministic Lloyd fit (2 rounds, the IVF
    recipe), squared-distance assignment, within-cluster min-id keep
    rule at cosine ≥ 0.95; same +0.03 near-twin planting. The oracle
    unrolls the identical Lloyd rounds over the planted corpus
    (kmeans_ctes source override) and replays assignment + keep rule."""
    emb = CAT.read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") + F.lit(0.03)
        ).alias("embedding"),
    )
    corpus = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    ).unionByName(planted)
    return DD.semantic_dedup_kmeans(
        corpus, n_clusters=8, iterations=2, threshold=0.95
    ).orderBy("vec_id")


_KM_SD_SOURCE = """SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000, list_transform(embedding, x -> x::DOUBLE + 0.03)
  FROM embeddings WHERE vec_id % 10 = 0"""


def _semantic_km_sql(nlist: int = 8, iterations: int = 2) -> str:
    cf = f"c{iterations}"
    return (
        kmeans_ctes(nlist, iterations, source_sql=_KM_SD_SOURCE)
        + f""",
af AS (
  SELECT vec_id, emb, cid FROM (
    SELECT v.vec_id, v.emb, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_km_d2_sql('v.emb', 'c.cv')}, c.cid) AS rn
    FROM v CROSS JOIN {cf} c) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM af a JOIN af b ON b.cid = a.cid AND a.vec_id < b.vec_id
  WHERE round({_DOT.format(a='a.emb', b='b.emb')}
              / (sqrt({_DOT.format(a='a.emb', b='a.emb')})
                 * sqrt({_DOT.format(a='b.emb', b='b.emb')})), 6) >= 0.95
)
SELECT a.vec_id, CAST(a.cid AS INT) AS cluster,
       (d.vec_id IS NULL) AS keep
FROM af a LEFT JOIN dropped d ON d.vec_id = a.vec_id
ORDER BY a.vec_id"""
    )


EMBEDDING_SEMANTIC_DEDUP_KM_SQL = _semantic_km_sql(8, 2)

QUERIES.update({"embedding_semantic_dedup_km": embedding_semantic_dedup_km})
ORACLES.update({"embedding_semantic_dedup_km": EMBEDDING_SEMANTIC_DEDUP_KM_SQL})
