"""Training-data pipeline operators over documents/embeddings/events:
dedup (exact, MinHash-LSH, SimHash), n-gram Jaccard, language-ID & quality
heuristics, token stats, winnowing fingerprints, quantized-cosine ANN,
and batch-equivalents of the streaming window operators (C12 oracles).

Cross-engine determinism: word→int hashing goes through the shared LCG mixer
on (length, leading/second char codes) — same SQL fragment evaluated by Spark
and DuckDB; embedding math is integer-quantized (round(x*1000) → BIGINT) so
aggregation order can't perturb results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .hashing import mix_sql, u01_sql

DEC = "decimal(18,6)"
# NTZ epoch literal: timestampdiff against it converts a TIMESTAMP_NTZ to
# epoch seconds/micros as PURE wall-clock arithmetic — unlike
# unix_seconds(cast(... AS timestamp_ltz)), which shifts by the session
# timezone and silently broke the oracle match under non-UTC sessions
_NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def word_hash_sql(w: str) -> str:
    """Deterministic word→uint32 hash, identical in Spark SQL and DuckDB.
    (COALESCE guards ascii('') which is NULL in Spark, 0 in DuckDB.)"""
    k = (f"length({w}) * 1000003"
         f" + COALESCE(ascii(substring({w}, 1, 1)), 0) * 251"
         f" + COALESCE(ascii(substring({w}, 2, 1)), 0) * 31")
    return mix_sql(k)


# --- exact dedup ---------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy(F.md5(F.col("text")).alias("text_hash"))
            .agg(F.count(F.lit(1)).alias("n_copies"),
                 F.min("doc_id").alias("keep_id")))


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
FROM documents GROUP BY 1
"""


# --- token stats / quality / language-ID ----------------------------------------

def q_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.round((F.length("text") - F.size(toks) + 1)
                / F.size(toks).cast("double"), 6).alias("avg_tok_len"))


ORACLE_TOKEN_STATS = """
SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct,
       ROUND((length(text) - len(string_split(text, ' ')) + 1)
             / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_tok_len
FROM documents
"""


STOPWORDS = ("a", "the")


def q_quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("double")
    stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double")
    uniq = F.size(F.array_distinct(toks)).cast("double")
    score = F.round(
        F.least(F.col("n_chars").cast("double"), F.lit(500.0)) / 500.0 * 0.3
        + (uniq / n) * 0.4 + (1.0 - stop / n) * 0.3, 6)
    return d.select("doc_id", score.alias("quality_score"))


ORACLE_QUALITY = f"""
WITH t AS (
  SELECT doc_id, n_chars,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ('{STOPWORDS[0]}', '{STOPWORDS[1]}'))) AS DOUBLE) AS stop,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS uniq
  FROM documents)
SELECT doc_id,
       ROUND(LEAST(CAST(n_chars AS DOUBLE), 500.0) / 500.0 * 0.3
             + (uniq / n) * 0.4 + (1.0 - stop / n) * 0.3, 6) AS quality_score
FROM t
"""


def q_langid_heuristic(spark, sf_dir):
    """Stopword-profile language ID (n-gram-free heuristic): score = share of
    tokens in each profile; predicted = argmax (en profile wins ties)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("double")
    en = F.size(F.filter(toks, lambda x: x.isin("a", "the", "fast", "slow"))) / n
    de = F.size(F.filter(toks, lambda x: x.isin("der", "die", "und"))) / n
    pred = F.when(de > en, F.lit("de")).otherwise(F.lit("en"))
    return d.select("doc_id", "lang",
                    F.round(en, 6).alias("en_score"),
                    pred.alias("predicted_lang"))


ORACLE_LANGID = """
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ('a', 'the', 'fast', 'slow'))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS en,
         CAST(len(list_filter(string_split(text, ' '),
              x -> x IN ('der', 'die', 'und'))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS de
  FROM documents)
SELECT doc_id, lang, ROUND(en, 6) AS en_score,
       CASE WHEN de > en THEN 'de' ELSE 'en' END AS predicted_lang
FROM t
"""


# --- MinHash + LSH banding -------------------------------------------------------

N_PERMS = 8
N_BANDS = 4  # 2 perms per band


def _doc_words(spark, sf_dir) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))


def q_minhash_signatures(spark, sf_dir):
    words = _doc_words(spark, sf_dir).selectExpr(
        "doc_id", f"{word_hash_sql('w')} AS wh")
    perms = spark.range(N_PERMS).withColumnRenamed("id", "p")
    return (words.crossJoin(perms)
            .selectExpr("doc_id", "p",
                        f"{mix_sql('wh + p * 7919')} AS h")
            .groupBy("doc_id", "p").agg(F.min("h").alias("minhash")))


ORACLE_MINHASH = f"""
WITH words AS (
  SELECT doc_id, {word_hash_sql('w')} AS wh
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents) t),
perms AS (SELECT UNNEST(GENERATE_SERIES(0, {N_PERMS - 1})) AS p)
SELECT doc_id, p, MIN({mix_sql('wh + p * 7919')}) AS minhash
FROM words CROSS JOIN perms
GROUP BY doc_id, p
"""


LSH_MOD = 10  # subset for the pair stage: tiny vocab → dense band collisions


def q_minhash_lsh_pairs(spark, sf_dir):
    """Near-dup candidate pairs: docs sharing ≥1 LSH band (2 perms/band),
    scored by the number of matching bands. Runs on the %10 doc subset —
    the synthetic corpus's 31-word vocabulary makes band collisions dense,
    and the pair join is quadratic in collisions."""
    sig = (q_minhash_signatures(spark, sf_dir)
           .where(F.col("doc_id") % LSH_MOD == 0))
    bands = (sig.withColumn("band", (F.col("p") / 2).cast("int"))
             .groupBy("doc_id", "band")
             .agg(F.concat_ws("_", F.sort_array(F.collect_list(
                 F.concat_ws(":", F.col("p").cast("string"),
                             F.col("minhash").cast("string")))))
                  .alias("band_sig")))
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.band_sig") == F.col("b.band_sig"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"), "a.band"))
    return (pairs.groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_bands")))


ORACLE_LSH_PAIRS = f"""
WITH sig AS (
  SELECT * FROM ({ORACLE_MINHASH}) s WHERE doc_id % {LSH_MOD} = 0),
bands AS (
  SELECT doc_id, CAST(FLOOR(p / 2.0) AS INT) AS band,
         string_agg(CAST(p AS VARCHAR) || ':' || CAST(minhash AS VARCHAR),
                    '_' ORDER BY CAST(p AS VARCHAR) || ':' ||
                    CAST(minhash AS VARCHAR)) AS band_sig
  FROM sig GROUP BY doc_id, 2)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


# --- SimHash -----------------------------------------------------------------------

def q_simhash16(spark, sf_dir):
    words = _doc_words(spark, sf_dir).selectExpr(
        "doc_id", f"{word_hash_sql('w')} AS wh")
    bits = words.selectExpr(
        "doc_id", "wh",
        "explode(sequence(0, 15)) AS b")
    vote = bits.selectExpr(
        "doc_id", "b",
        "(CAST(FLOOR(wh / POWER(2.0, b)) AS BIGINT) % 2) * 2 - 1 AS v")
    return (vote.groupBy("doc_id", "b").agg(F.sum("v").alias("s"))
            .selectExpr("doc_id",
                        "CASE WHEN s >= 0 THEN CAST(POWER(2.0, b) AS BIGINT) "
                        "ELSE 0 END AS bitval")
            .groupBy("doc_id").agg(F.sum("bitval").alias("simhash")))


ORACLE_SIMHASH = f"""
WITH words AS (
  SELECT doc_id, {word_hash_sql('w')} AS wh
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents) t),
vote AS (
  SELECT doc_id, b,
         SUM((CAST(FLOOR(wh / POWER(2.0, b)) AS BIGINT) % 2) * 2 - 1) AS s
  FROM words CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS b) bs
  GROUP BY doc_id, b)
SELECT doc_id,
       CAST(SUM(CASE WHEN s >= 0 THEN CAST(POWER(2.0, b) AS BIGINT)
                ELSE 0 END) AS BIGINT)
         AS simhash
FROM vote GROUP BY doc_id
"""


# --- bigram Jaccard ------------------------------------------------------------------

JACCARD_MOD = 25  # restrict to doc_id % 25 == 0 → ~20 docs → 190 pairs


def q_bigram_jaccard(spark, sf_dir):
    d = (_t(spark, sf_dir, "documents")
         .where(F.col("doc_id") % JACCARD_MOD == 0))
    toks = d.select("doc_id", F.posexplode(F.split("text", " "))
                    .alias("pos", "w"))
    t2 = toks.selectExpr("doc_id", "pos - 1 AS pos", "w AS w2")
    big = (toks.join(t2, ["doc_id", "pos"])
           .select("doc_id", F.concat_ws(" ", "w", "w2").alias("shingle"))
           .distinct())
    sizes = big.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = big.alias("a"), big.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.selectExpr("doc_id AS doc_a", "sz AS sz_a")
    sb = sizes.selectExpr("doc_id AS doc_b", "sz AS sz_b")
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .selectExpr("doc_a", "doc_b",
                        "ROUND(inter / CAST(sz_a + sz_b - inter AS DOUBLE), 6)"
                        " AS jaccard")
            .where("jaccard >= 0.05"))


ORACLE_JACCARD = f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents
              WHERE doc_id % {JACCARD_MOD} = 0),
big AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(generate_series(1, len(s) - 1),
                i -> s[i] || ' ' || s[i + 1])) AS shingle
  FROM docs),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM big GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM big a JOIN big b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.05
"""


# --- winnowing fingerprint -------------------------------------------------------------

def q_doc_fingerprint(spark, sf_dir):
    toks = (_t(spark, sf_dir, "documents")
            .select("doc_id", F.posexplode(F.split("text", " "))
                    .alias("pos", "w"))
            .selectExpr("doc_id", "pos", f"{word_hash_sql('w')} AS wh"))
    w = W.partitionBy("doc_id").orderBy("pos")
    roll = toks.select(
        "doc_id",
        (F.col("wh") + 31 * F.lead("wh", 1).over(w)
         + 961 * F.lead("wh", 2).over(w)).alias("rh"))
    return (roll.where(F.col("rh").isNotNull())
            .groupBy("doc_id").agg(F.min("rh").alias("fingerprint"),
                                   F.count(F.lit(1)).alias("n_windows")))


ORACLE_FINGERPRINT = f"""
WITH toks AS (
  SELECT doc_id, i AS pos, {word_hash_sql('w')} AS wh
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents) t),
roll AS (
  SELECT doc_id,
         wh + 31 * LEAD(wh, 1) OVER (PARTITION BY doc_id ORDER BY pos)
            + 961 * LEAD(wh, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS rh
  FROM toks)
SELECT doc_id, MIN(rh) AS fingerprint, COUNT(*) AS n_windows
FROM roll WHERE rh IS NOT NULL GROUP BY doc_id
"""


# --- embeddings: quantized cosine top-k + sign-LSH ANN buckets ---------------------------

QVEC_MOD = 50
QVEC_CAP = 2500          # query ids bounded: vec_id < CAP → ≤ CAP/MOD queries


def q_cosine_topk(spark, sf_dir):
    """Brute-force quantized-dot top-5 neighbors for a BOUNDED query set
    (every %50th vector with vec_id < 2500 → at most 50 queries no matter
    the corpus size — round 1 collected a corpus-proportional 2% of all
    vectors to the driver, which is a scale-killer at 10^12 rows; an
    unbounded exact-top-k wants the ANN-bucket route instead).

    Quantization (round(x*1000) → int64) makes the score order-independent
    and bit-identical across engines; rank ties break on vec_id.

    Scale shape: the (constant-size) query matrix is collected and
    broadcast; one mapInPandas pass over the corpus computes ALL query dots
    per Arrow batch as a single integer matmul and emits only each batch's
    per-query top-5 (local top-k), so the final exact top-5 window sees
    ≤ 5·n_batches rows per query instead of the full n_corpus — the classic
    partial-top-k pattern that survives a 1000-executor corpus."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    e = _t(spark, sf_dir, "embeddings")
    qrows = (e.where((F.col("vec_id") % QVEC_MOD == 0)
                     & (F.col("vec_id") < QVEC_CAP))
             .select("vec_id", "embedding").collect())
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.rint(np.array([r.embedding for r in qrows],
                            dtype=np.float64) * 1000.0).astype(np.int64)
    bc = spark.sparkContext.broadcast((qids, qmat))
    schema = T.StructType([
        T.StructField("qid", T.LongType()),
        T.StructField("nid", T.LongType()),
        T.StructField("dot_q", T.LongType()),
    ])

    def dots(batches):
        ids, mat = bc.value
        for pdf in batches:
            nid = pdf["vec_id"].to_numpy(dtype=np.int64)
            emb = np.rint(np.stack(pdf["embedding"].to_numpy())
                          .astype(np.float64) * 1000.0).astype(np.int64)
            d = emb @ mat.T  # (batch, nq) exact int64
            out_q, out_n, out_d = [], [], []
            for j in range(len(ids)):
                mask = nid != ids[j]
                dj, nj = d[mask, j], nid[mask]
                k = min(5, len(dj))
                if k == 0:
                    continue
                # local top-k (ties: smaller nid wins, matching the window)
                order = np.lexsort((nj, -dj))[:k]
                out_q.extend([ids[j]] * k)
                out_n.extend(nj[order].tolist())
                out_d.extend(dj[order].tolist())
            yield pd.DataFrame({"qid": out_q, "nid": out_n, "dot_q": out_d})

    j = e.select("vec_id", "embedding").mapInPandas(dots, schema)
    w = W.partitionBy("qid").orderBy(F.col("dot_q").desc(),
                                     F.col("nid").asc())
    return (j.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5))


ORACLE_COSINE = f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS q
  FROM embeddings),
dots AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         CAST(SUM(a.q * b.q) AS BIGINT) AS dot_q
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id % {QVEC_MOD} = 0 AND a.vec_id < {QVEC_CAP}
  GROUP BY 1, 2),
ranked AS (
  SELECT qid, nid, dot_q,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY dot_q DESC, nid ASC) AS rank
  FROM dots)
SELECT qid, nid, dot_q, rank FROM ranked WHERE rank <= 5
"""

N_PLANES = 6


def q_ann_lsh_buckets(spark, sf_dir):
    """Sign-LSH bucketing: 6 deterministic integer hyperplanes; bucket =
    Σ (sign bit << j). The scale path for ANN — candidate sets shrink 2^6×."""
    e = _t(spark, sf_dir, "embeddings")
    flat = e.select("vec_id", F.posexplode("embedding").alias("i", "x"))
    planes = spark.range(N_PLANES).withColumnRenamed("id", "j")
    comp = flat.crossJoin(planes).selectExpr(
        "vec_id", "j",
        "CAST(ROUND(CAST(x AS DOUBLE) * 1000.0) AS BIGINT) * "
        f"CAST(ROUND(({u01_sql('j * 64 + i')} - 0.5) * 1000.0) AS BIGINT)"
        " AS term")
    bits = (comp.groupBy("vec_id", "j").agg(F.sum("term").alias("dot"))
            .selectExpr("vec_id",
                        "CASE WHEN dot >= 0 THEN "
                        "CAST(POWER(2.0, j) AS BIGINT) ELSE 0 END AS bv"))
    buckets = bits.groupBy("vec_id").agg(F.sum("bv").alias("bucket"))
    return (buckets.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.min("vec_id").alias("min_vec")))


ORACLE_ANN = f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS q
  FROM embeddings),
comp AS (
  SELECT vec_id, j,
         SUM(q * CAST(ROUND(({u01_sql('j * 64 + i')} - 0.5) * 1000.0)
                      AS BIGINT)) AS dot
  FROM flat CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {N_PLANES - 1})) AS j) p
  GROUP BY vec_id, j),
buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot >= 0 THEN CAST(POWER(2.0, j) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS bucket
  FROM comp GROUP BY vec_id)
SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec
FROM buckets GROUP BY bucket
"""


# --- IVF ANN: coarse-quantizer buckets + nprobe search ---------------------------

IVF_CENT_MOD, IVF_CENT_CAP = 100, 1600   # centroids: ≤ 16, fixed at any scale
IVF_Q_MOD, IVF_Q_CAP = 250, 2500         # queries:   ≤ 10, fixed at any scale
IVF_NPROBE, IVF_TOPK = 2, 3


def q_ann_ivf_search(spark, sf_dir):
    """IVF-style ANN (the brief's second scale path next to sign-LSH):
    a bounded deterministic centroid set (vectors with id % 100 == 0,
    id < 1600 — a stand-in coarse quantizer; swap in k-means centroids on
    a real corpus) partitions the corpus by nearest-centroid (integer L2,
    ties to the smaller centroid id); a bounded query set probes its
    IVF_NPROBE nearest centroids and exact-searches ONLY those inverted
    lists for its top-3 (quantized dot, ties to smaller vec id).

    Scale shape: assignment is one Arrow pass (integer matmul against the
    broadcast ≤16×64 centroid matrix) — the corpus shuffles once, keyed by
    centroid; search touches nprobe/ncentroids of the corpus. All math is
    round(x*1000) int64, so the DuckDB oracle reproduces every rank
    bit-for-bit."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    e = _t(spark, sf_dir, "embeddings")
    cent_rows = (e.where((F.col("vec_id") % IVF_CENT_MOD == 0)
                         & (F.col("vec_id") < IVF_CENT_CAP))
                 .select("vec_id", "embedding").collect())
    cent_rows.sort(key=lambda r: r.vec_id)
    cids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)
    cmat = np.rint(np.array([r.embedding for r in cent_rows],
                            dtype=np.float64) * 1000.0).astype(np.int64)
    qrows = (e.where((F.col("vec_id") % IVF_Q_MOD == 0)
                     & (F.col("vec_id") < IVF_Q_CAP))
             .select("vec_id", "embedding").collect())
    qrows.sort(key=lambda r: r.vec_id)
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.rint(np.array([r.embedding for r in qrows],
                            dtype=np.float64) * 1000.0).astype(np.int64)

    def nearest_cents(mat, n):
        """(rows, n) centroid ids by ascending integer L2, tie → smaller."""
        d = ((mat[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        order = np.lexsort((np.broadcast_to(cids, d.shape), d), axis=1)
        return cids[order[:, :n]]

    probes = {int(q): nearest_cents(qmat, IVF_NPROBE)[i]
              for i, q in enumerate(qids)}
    # bucket -> queries probing it (tiny, broadcast with the matrices)
    probe_map: dict[int, list[int]] = {}
    for qi, cs in probes.items():
        for c in cs:
            probe_map.setdefault(int(c), []).append(qi)
    bc = spark.sparkContext.broadcast(
        (cids, cmat, qids, qmat, probe_map))
    schema = T.StructType([
        T.StructField("qid", T.LongType()),
        T.StructField("nid", T.LongType()),
        T.StructField("dot_q", T.LongType()),
    ])

    def search(batches):
        cids_, cmat_, qids_, qmat_, pmap = bc.value
        qidx = {int(q): i for i, q in enumerate(qids_)}
        for pdf in batches:
            if not len(pdf):
                continue
            vq = np.rint(np.stack(pdf["embedding"].to_numpy())
                         .astype(np.float64) * 1000.0).astype(np.int64)
            nid = pdf["vec_id"].to_numpy(dtype=np.int64)
            # assign each corpus vector to its nearest centroid
            d = ((vq[:, None, :] - cmat_[None, :, :]) ** 2).sum(axis=2)
            order = np.lexsort((np.broadcast_to(cids_, d.shape), d), axis=1)
            own = cids_[order[:, 0]]
            out_q, out_n, out_d = [], [], []
            for c, qlist in pmap.items():
                mask = own == c
                if not mask.any():
                    continue
                sub_n, sub_v = nid[mask], vq[mask]
                dots = sub_v @ qmat_.T                     # (m, nq)
                for qi in qlist:
                    j = qidx[qi]
                    keep = sub_n != qi                     # exclude self
                    out_q.extend([qi] * int(keep.sum()))
                    out_n.extend(sub_n[keep].tolist())
                    out_d.extend(dots[keep, j].tolist())
            yield pd.DataFrame({"qid": out_q, "nid": out_n, "dot_q": out_d})

    hits = e.select("vec_id", "embedding").mapInPandas(search, schema)
    w = W.partitionBy("qid").orderBy(F.col("dot_q").desc(),
                                     F.col("nid").asc())
    return (hits.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= IVF_TOPK))


ORACLE_ANN_IVF = f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS q
  FROM embeddings),
cents AS (SELECT vec_id AS cid, i, q FROM flat
          WHERE vec_id % {IVF_CENT_MOD} = 0 AND vec_id < {IVF_CENT_CAP}),
assign AS (
  SELECT vec_id, cid, ROW_NUMBER() OVER (
           PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rk
  FROM (SELECT f.vec_id, c.cid, SUM((f.q - c.q) * (f.q - c.q)) AS d
        FROM flat f JOIN cents c ON f.i = c.i
        GROUP BY f.vec_id, c.cid)),
own AS (SELECT vec_id, cid FROM assign WHERE rk = 1),
probes AS (SELECT vec_id AS qid, cid FROM assign
           WHERE rk <= {IVF_NPROBE}
             AND vec_id % {IVF_Q_MOD} = 0 AND vec_id < {IVF_Q_CAP}),
cand AS (
  SELECT p.qid, o.vec_id AS nid
  FROM probes p JOIN own o ON o.cid = p.cid AND o.vec_id <> p.qid),
dots AS (
  SELECT c.qid, c.nid, CAST(SUM(fq.q * fn.q) AS BIGINT) AS dot_q
  FROM cand c
  JOIN flat fq ON fq.vec_id = c.qid
  JOIN flat fn ON fn.vec_id = c.nid AND fn.i = fq.i
  GROUP BY c.qid, c.nid)
SELECT qid, nid, dot_q,
       CAST(rank AS INT) AS rank
FROM (SELECT qid, nid, dot_q, ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY dot_q DESC, nid ASC) AS rank
      FROM dots)
WHERE rank <= {IVF_TOPK}
"""


# banded sign-LSH near-dup: 3 bands x 4 hyperplanes; a pair is a candidate if
# it shares ANY band's bucket. Band width trades recall against candidate
# volume: 2-plane bands (4 buckets) put ~25% of ALL pairs in the candidate
# set — measured 1.2M pairs at sf0.1, the whole query's cost; 4-plane bands
# (16 buckets/band, ~45% recall at cos 0.4) cut candidates ~4x. Exact verify
# keeps cos >= 0.4 via all-integer math: with q = round(x*1000) and
# n2 = sum(q^2), cos >= 2/5  <=>  dot > 0 AND 25*dot^2 >= 4*n2a*n2b
# (dot <= 64*578^2 here, so every product < 2^63 — ANSI-overflow-safe and
# bit-identical in Spark and DuckDB).
N_BANDS, PLANES_PER_BAND = 3, 4


def q_dedup_embedding_near(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (builder-brief dedup variant).

    Scale shape: the LSH band self-join is the candidate generator — pairs
    come from equi-joins on (band, bucket), never a cross join, so at 10^12
    vectors the shuffle is keyed on buckets and AQE splits any hot bucket;
    the exact verify touches candidates only.

    Round-2 cheapening (VERDICT perf #5): the band stage emits the
    int16-quantized vector alongside (band, bucket) — the SAME np.rint
    quantization the verify always used, and |q| ≤ 578 fits int16 — and the
    verify runs BUCKET-LOCALLY: one applyInPandas group per (band, bucket)
    does the all-pairs integer matmul (Q @ Q.T) inside the group and emits
    only the qualifying pairs. The round-1 plan shipped every candidate
    pair (2×512-byte float64 arrays each, ~2.3M rows at sf0.1) through a
    self-join + two embedding joins + a distinct; all of that is gone — the
    only shuffle left keys the 128-byte quantized rows by bucket, and the
    qualifying-pair output is 5 orders of magnitude smaller than the
    candidate set. Pairs sharing several bands produce the identical dot in
    each (≤ 3) and collapse in the final cheap groupBy on 24-byte rows.
    Skew note: a pathologically hot bucket is one task here; at 10^12 rows
    cap bucket size by adding bands/planes (recall knob), or chunk the
    matmul — the m² candidate pairs are inherent to LSH near-dup either
    way."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .hashing import u01

    e = _t(spark, sf_dir, "embeddings")
    # plane matrix is deterministic and tiny (12 x 64 int64) — computed once
    # driver-side from the same u01 formula the oracle uses, then the band
    # buckets come from ONE Arrow pass (integer matmul + sign bits); the
    # previous posexplode + crossJoin + double-groupBy formulation shuffled
    # |vectors| x 64 x 12 rows twice to compute the same 12 dots
    nplanes = N_BANDS * PLANES_PER_BAND
    jj, ii = np.meshgrid(np.arange(nplanes, dtype=np.int64),
                         np.arange(64, dtype=np.int64), indexing="ij")
    planes = np.rint((u01(jj * 64 + ii) - 0.5) * 1000.0).astype(np.int64)
    bc_planes = spark.sparkContext.broadcast(planes)
    band_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("band", T.LongType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("q", T.ArrayType(T.ShortType())),
    ])

    def band_buckets(batches):
        pl = bc_planes.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.rint(np.stack(pdf["embedding"].to_numpy())
                        .astype(np.float64) * 1000.0).astype(np.int64)
            bits = (q @ pl.T >= 0).astype(np.int64)      # (n, nplanes)
            weights = 1 << np.arange(PLANES_PER_BAND, dtype=np.int64)
            buckets = bits.reshape(len(q), N_BANDS, PLANES_PER_BAND) @ weights
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            q16 = list(q.astype(np.int16))
            yield pd.DataFrame({
                "vec_id": np.repeat(vid, N_BANDS),
                "band": np.tile(np.arange(N_BANDS, dtype=np.int64), len(q)),
                "bucket": buckets.ravel(),
                "q": [q16[k] for k in np.repeat(np.arange(len(q)), N_BANDS)],
            })

    bands = e.select("vec_id", "embedding").mapInPandas(band_buckets,
                                                        band_schema)
    schema = T.StructType([
        T.StructField("vec_a", T.LongType()),
        T.StructField("vec_b", T.LongType()),
        T.StructField("dot_q", T.LongType()),
    ])

    def bucket_verify(_key, pdf):
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "dot_q": []},
                                dtype="int64")
        vid = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(vid)                  # triu ⇒ vec_a < vec_b
        vid = vid[order]
        q = np.stack(pdf["q"].to_numpy())[order].astype(np.int64)
        dots = q @ q.T
        n2 = np.einsum("ij,ij->i", q, q)
        iu, ju = np.triu_indices(len(vid), k=1)
        dot = dots[iu, ju]
        keep = (dot > 0) & (25 * dot * dot >= 4 * n2[iu] * n2[ju])
        return pd.DataFrame({"vec_a": vid[iu[keep]],
                             "vec_b": vid[ju[keep]],
                             "dot_q": dot[keep]})

    return (bands.groupBy("band", "bucket").applyInPandas(bucket_verify,
                                                          schema)
            .groupBy("vec_a", "vec_b")
            .agg(F.max("dot_q").alias("dot_q")))


ORACLE_EMB_NEAR = f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS q
  FROM embeddings),
norms AS (SELECT vec_id, SUM(q * q) AS n2 FROM flat GROUP BY vec_id),
comp AS (
  SELECT vec_id, j,
         SUM(q * CAST(ROUND(({u01_sql('j * 64 + i')} - 0.5) * 1000.0)
                      AS BIGINT)) AS dot
  FROM flat CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0,
       {N_BANDS * PLANES_PER_BAND - 1})) AS j) p
  GROUP BY vec_id, j),
bands AS (
  SELECT vec_id, CAST(FLOOR(j / {PLANES_PER_BAND}) AS BIGINT) AS band,
         SUM(CASE WHEN dot >= 0 THEN CAST(POWER(2.0, j % {PLANES_PER_BAND})
             AS BIGINT) ELSE 0 END) AS bucket
  FROM comp GROUP BY vec_id, band),
cand AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
dots AS (
  SELECT c.va, c.vb, CAST(SUM(fa.q * fb.q) AS BIGINT) AS dot_q
  FROM cand c
  JOIN flat fa ON fa.vec_id = c.va
  JOIN flat fb ON fb.vec_id = c.vb AND fb.i = fa.i
  GROUP BY c.va, c.vb)
SELECT d.va AS vec_a, d.vb AS vec_b, d.dot_q
FROM dots d JOIN norms na ON na.vec_id = d.va
JOIN norms nb ON nb.vec_id = d.vb
WHERE d.dot_q > 0 AND 25 * d.dot_q * d.dot_q >= 4 * na.n2 * nb.n2
"""


# --- semantic_dedup: SemDeDup-style cluster-then-prune curation ---------------
#
# The named LLM-curation method (SemDeDup, Abbas et al. 2023 — public):
# cluster the embedding space coarsely, then remove near-duplicate
# members WITHIN each cluster, keeping one representative.  Deterministic
# gate form: the coarse "k-means" is a 7-plane sign-LSH partition (128
# clusters — the ann_ivf_search stand-in precedent, integer math DuckDB
# replays; swap ann.kmeans_centroids in production), membership pairs
# compare int16-quantized cosine against the RATIONAL threshold
# cos ≥ 24/25 (625·dot² ≥ 576·|a|²·|b|², exact int64 — the
# dedup_embedding_near overflow trick), and the survivor rule is
# keep-smallest-id.  Scale shape: ONE cluster-keyed shuffle; all-pairs
# work is bounded within clusters (the SemDeDup point — n²/k, never n²),
# hot clusters are the add-planes knob.  Output is per-cluster:
# members, removed count, survivor id-sum (any wrong pair flips it).

SEMDEDUP_PLANES = 7
SEMDEDUP_SEED = 9000          # plane-formula offset (≠ the LSH bands')


def q_semantic_dedup(spark, sf_dir):
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .hashing import u01

    e = _t(spark, sf_dir, "embeddings")
    jj, ii = np.meshgrid(np.arange(SEMDEDUP_PLANES, dtype=np.int64),
                         np.arange(64, dtype=np.int64), indexing="ij")
    planes = np.rint((u01((SEMDEDUP_SEED + jj) * 64 + ii) - 0.5)
                     * 1000.0).astype(np.int64)
    bc = spark.sparkContext.broadcast(planes)
    assign_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("cid", T.LongType()),
        T.StructField("q", T.ArrayType(T.ShortType())),
    ])

    def assign(batches):
        pl = bc.value
        w = 1 << np.arange(SEMDEDUP_PLANES, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.rint(np.stack(pdf["embedding"].to_numpy())
                        .astype(np.float64) * 1000.0).astype(np.int64)
            cid = ((q @ pl.T >= 0).astype(np.int64) @ w)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(np.int64),
                "cid": cid, "q": list(q.astype(np.int16))})

    assigned = e.select("vec_id", "embedding").mapInPandas(assign,
                                                           assign_schema)
    out_schema = T.StructType([
        T.StructField("cid", T.LongType()),
        T.StructField("n_members", T.LongType()),
        T.StructField("n_removed", T.LongType()),
        T.StructField("survivor_idsum", T.LongType()),
    ])

    def prune(_key, pdf):
        vid = pdf["vec_id"].to_numpy(np.int64)
        order = np.argsort(vid)
        vid = vid[order]
        cid = int(pdf["cid"].iloc[0])
        if len(vid) < 2:
            return pd.DataFrame({"cid": [cid], "n_members": [len(vid)],
                                 "n_removed": [0],
                                 "survivor_idsum": [int(vid.sum())]})
        q = np.stack(pdf["q"].to_numpy())[order].astype(np.int64)
        dots = q @ q.T
        n2 = np.einsum("ij,ij->i", q, q)
        dup = (dots > 0) & (625 * dots * dots >= 576 * np.outer(n2, n2))
        # removed = has a duplicate with a SMALLER id (strict lower tri)
        removed = np.tril(dup, k=-1).any(axis=1)
        return pd.DataFrame({
            "cid": [cid], "n_members": [len(vid)],
            "n_removed": [int(removed.sum())],
            "survivor_idsum": [int(vid[~removed].sum())]})

    return (assigned.groupBy("cid").applyInPandas(prune, out_schema)
            .orderBy("cid"))


ORACLE_SEMDEDUP = f"""
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * 1000.0) AS BIGINT)
           AS q
  FROM embeddings),
comp AS (
  SELECT vec_id, j,
         SUM(q * CAST(ROUND(({u01_sql(f'({SEMDEDUP_SEED} + j) * 64 + i')}
                             - 0.5) * 1000.0) AS BIGINT)) AS dot
  FROM flat CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0,
       {SEMDEDUP_PLANES - 1})) AS j) p
  GROUP BY vec_id, j),
assign AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot >= 0 THEN CAST(POWER(2.0, j) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS cid
  FROM comp GROUP BY vec_id),
norms AS (SELECT vec_id, SUM(q * q) AS n2 FROM flat GROUP BY vec_id),
pairs AS (
  SELECT a.cid, a.vec_id AS va, b.vec_id AS vb
  FROM assign a JOIN assign b
    ON a.cid = b.cid AND a.vec_id < b.vec_id),
dup AS (
  SELECT p.cid, p.va, p.vb
  FROM (
    SELECT p.cid, p.va, p.vb, CAST(SUM(fa.q * fb.q) AS BIGINT) AS dot
    FROM pairs p
    JOIN flat fa ON fa.vec_id = p.va
    JOIN flat fb ON fb.vec_id = p.vb AND fb.i = fa.i
    GROUP BY p.cid, p.va, p.vb) p
  JOIN norms na ON na.vec_id = p.va
  JOIN norms nb ON nb.vec_id = p.vb
  WHERE p.dot > 0 AND 625 * p.dot * p.dot >= 576 * na.n2 * nb.n2),
removed AS (SELECT DISTINCT cid, vb AS vec_id FROM dup)
SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN r.vec_id IS NULL THEN a.vec_id ELSE 0 END)
            AS BIGINT) AS survivor_idsum
FROM assign a LEFT JOIN removed r
  ON r.cid = a.cid AND r.vec_id = a.vec_id
GROUP BY a.cid ORDER BY a.cid
"""


# --- semantic_dedup_kmeans: SemDeDup over REAL Lloyd clusters (r5) -----------
#
# VERDICT r4 item 4's second half: the production clustering stage —
# distributed Lloyd k-means in EXACT integer geometry over the embedding
# space — replaces the sign-LSH partition, with the identical cosine
# prune inside each cluster. Coordinates quantize to rint(x·1000)+1024
# (non-negative, ≤ 2048), so squared distances (≤ 64·2048² < 2^29) and
# centroid floor-divisions are exact int64 on both engines; seeds are
# the SDK_K smallest vec_ids; ties → smaller cid; empty clusters keep
# their previous centroid. The ENGINE runs broadcast-centroid Arrow
# passes + one k-row groupBy per round (ann.kmeans_centroids's plan
# shape); the ORACLE re-derives every round as ROW_NUMBER argmins over a
# flat (vec_id, dim) join — two genuinely different plans that must
# agree bit-for-bit.

SDK_K = 6
SDK_ROUNDS = 2
SDK_SHIFT = 1024


def _sd_prune_out_schema():
    from pyspark.sql import types as T
    return T.StructType([
        T.StructField("cid", T.LongType()),
        T.StructField("n_members", T.LongType()),
        T.StructField("n_removed", T.LongType()),
        T.StructField("survivor_idsum", T.LongType()),
    ])


def _sd_prune(_key, pdf):
    """Within-cluster SemDeDup prune: int16-exact cosine ≥ 24/25 pairs,
    keep-smallest-id survivors (shared by the LSH, k-means and capped
    variants)."""
    import numpy as np
    import pandas as pd
    vid = pdf["vec_id"].to_numpy(np.int64)
    order = np.argsort(vid)
    vid = vid[order]
    cid = int(pdf["cid"].iloc[0])
    if len(vid) < 2:
        return pd.DataFrame({"cid": [cid], "n_members": [len(vid)],
                             "n_removed": [0],
                             "survivor_idsum": [int(vid.sum())]})
    q = np.stack(pdf["q"].to_numpy())[order].astype(np.int64)
    dots = q @ q.T
    n2 = np.einsum("ij,ij->i", q, q)
    dup = (dots > 0) & (625 * dots * dots >= 576 * np.outer(n2, n2))
    removed = np.tril(dup, k=-1).any(axis=1)
    return pd.DataFrame({
        "cid": [cid], "n_members": [len(vid)],
        "n_removed": [int(removed.sum())],
        "survivor_idsum": [int(vid[~removed].sum())]})


def _sd_quantized(spark, sf_dir, emb_df=None):
    """(vec_id, q raw int16 array) — rint(x·1000), the SemDeDup metric
    space. ``emb_df`` overrides the table (tests plant hot clusters)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    e = emb_df if emb_df is not None else _t(spark, sf_dir, "embeddings")
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("q", T.ArrayType(T.ShortType())),
    ])

    def quant(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.rint(np.stack(pdf["embedding"].to_numpy())
                        .astype(np.float64) * 1000.0).astype(np.int64)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(np.int64),
                "q": list(q.astype(np.int16))})

    return e.select("vec_id", "embedding").mapInPandas(quant, schema)


def q_semantic_dedup_kmeans(spark, sf_dir):
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    e = _t(spark, sf_dir, "embeddings")
    qdf = _sd_quantized(spark, sf_dir).cache()
    seeds = (e.orderBy("vec_id").limit(SDK_K)
             .select("vec_id", "embedding").collect())     # bounded: k rows
    seeds.sort(key=lambda r: r[0])
    cents = (np.rint(np.array([list(r[1]) for r in seeds]) * 1000.0)
             .astype(np.int64) + SDK_SHIFT)
    d = cents.shape[1]
    part_schema = T.StructType([
        T.StructField("cid", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("vsum", T.ArrayType(T.LongType())),
    ])

    def partials_of(c):
        def partials(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.stack(pdf["q"].to_numpy()).astype(np.int64) \
                    + SDK_SHIFT
                d2 = ((v[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
                a = d2.argmin(axis=1)          # ties → smaller cid
                out = []
                for cid in np.unique(a):
                    m = a == cid
                    out.append((int(cid), int(m.sum()),
                                v[m].sum(axis=0).tolist()))
                yield pd.DataFrame(out, columns=["cid", "n", "vsum"])
        return partials

    for _ in range(SDK_ROUNDS):
        bc = spark.sparkContext.broadcast(cents)
        folded = (qdf.mapInPandas(partials_of(bc.value), part_schema)
                  .groupBy("cid")
                  .agg(F.sum("n").alias("n"),
                       *[F.sum(F.element_at("vsum", i + 1)).alias(f"s{i}")
                         for i in range(d)])
                  .collect())                  # ≤ k rows
        nxt = cents.copy()                     # empty cluster → keep
        for r in folded:
            nxt[r["cid"]] = np.array(
                [r[f"s{i}"] for i in range(d)], dtype=np.int64) \
                // int(r["n"])                 # floor div == DuckDB //
        cents = nxt

    bc = spark.sparkContext.broadcast(cents)
    assign_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("cid", T.LongType()),
        T.StructField("q", T.ArrayType(T.ShortType())),
    ])

    def assign(batches):
        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            d2 = ((q + SDK_SHIFT)[:, None, :] - c[None, :, :]) ** 2
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(np.int64),
                "cid": d2.sum(axis=2).argmin(axis=1).astype(np.int64),
                "q": pdf["q"]})

    assigned = qdf.mapInPandas(assign, assign_schema)
    return (assigned.groupBy("cid")
            .applyInPandas(_sd_prune, _sd_prune_out_schema())
            .orderBy("cid"))


def _oracle_sd_kmeans() -> str:
    rnd = """
d{n} AS (
  SELECT f.vec_id, c.cid,
         SUM((f.qs - c.c) * (f.qs - c.c)) AS d
  FROM flat f JOIN c{p} c ON c.i = f.i GROUP BY 1, 2),
a{n} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d ASC, cid ASC) AS rk
    FROM d{n}) WHERE rk = 1),
c{n} AS MATERIALIZED (
  SELECT c.cid, c.i, COALESCE(u.s // u.n, c.c) AS c
  FROM c{p} c LEFT JOIN (
    SELECT a.cid, f.i, CAST(SUM(f.qs) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM a{n} a JOIN flat f ON f.vec_id = a.vec_id
    GROUP BY 1, 2) u ON u.cid = c.cid AND u.i = c.i)"""
    chain = ",".join(rnd.format(n=i + 1, p=i) for i in range(SDK_ROUNDS))
    return f"""
WITH flat AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * 1000.0) AS BIGINT)
           AS q,
         CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * 1000.0) AS BIGINT)
           + {SDK_SHIFT} AS qs
  FROM embeddings),
sv AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
       FROM embeddings ORDER BY vec_id LIMIT {SDK_K}),
c0 AS MATERIALIZED (
  SELECT sv.cid, f.i, f.qs AS c FROM sv JOIN flat f
    ON f.vec_id = sv.vec_id),
{chain},
fin AS (
  SELECT vec_id, cid FROM (
    SELECT f.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
             SUM((f.qs - c.c) * (f.qs - c.c)) ASC, c.cid ASC) AS rk
    FROM flat f JOIN c{SDK_ROUNDS} c ON c.i = f.i
    GROUP BY f.vec_id, c.cid) WHERE rk = 1),
norms AS (SELECT vec_id, SUM(q * q) AS n2 FROM flat GROUP BY vec_id),
pairs AS (
  SELECT a.cid, a.vec_id AS va, b.vec_id AS vb
  FROM fin a JOIN fin b
    ON a.cid = b.cid AND a.vec_id < b.vec_id),
dup AS (
  SELECT p.cid, p.va, p.vb
  FROM (
    SELECT p.cid, p.va, p.vb, CAST(SUM(fa.q * fb.q) AS BIGINT) AS dot
    FROM pairs p
    JOIN flat fa ON fa.vec_id = p.va
    JOIN flat fb ON fb.vec_id = p.vb AND fb.i = fa.i
    GROUP BY p.cid, p.va, p.vb) p
  JOIN norms na ON na.vec_id = p.va
  JOIN norms nb ON nb.vec_id = p.vb
  WHERE p.dot > 0 AND 625 * p.dot * p.dot >= 576 * na.n2 * nb.n2),
removed AS (SELECT DISTINCT cid, vb AS vec_id FROM dup)
SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN r.vec_id IS NULL THEN a.vec_id ELSE 0 END)
            AS BIGINT) AS survivor_idsum
FROM fin a LEFT JOIN removed r
  ON r.cid = a.cid AND r.vec_id = a.vec_id
GROUP BY a.cid ORDER BY a.cid
"""


# --- hot-cluster cap (VERDICT r4 item 4, first half) -------------------------

def semantic_dedup_capped(spark, sf_dir, cap: int = 64,
                          max_depth: int = 16, emb_df=None):
    """SemDeDup with a CLUSTER-SIZE CAP: the n²/k pair bound collapses if
    one LSH cell captures a large corpus fraction, so oversized cells
    split BEFORE the prune shuffle until every prune group holds ≤
    ``cap`` members. Split rule: k-d-tree style — each oversized cell
    bisects on its own MAX-VARIANCE dimension at the cell MEAN (an exact
    integer predicate, q[dim]·n > Σq[dim]), which stays ~balanced even
    for CONCENTRATED hot cells where random extra sign-planes barely
    split at all (measured: a 36k-member cell at σ=0.25 concentration
    shrank only ~12× under six 4-way plane rounds, but halves every
    mean-split round). A cell with zero variance on every dimension is
    all exact duplicates — unsplittable by ANY rule — and prunes as-is,
    which is cheap: identical rows fall out in one pass of the pair
    matrix.

    Scale shape per round: one count aggregation over cell ids + one
    129-column moment aggregation over ONLY the oversized cells (driver
    rows = #hot cells, bounded), then one broadcast map. Per-task prune
    work is then ≤ cap² and per-group memory ≤ cap rows. Recall
    tradeoff: a mean-split can separate a near-duplicate pair straddling
    the threshold — the standard SemDeDup partition tradeoff
    (pytest-pinned on a planted 30%-hot cell with seeded duplicates)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .hashing import u01

    qdf = _sd_quantized(spark, sf_dir, emb_df)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("cid", T.LongType()),
        T.StructField("q", T.ArrayType(T.ShortType())),
    ])

    def base_assign(df):
        jj, ii = np.meshgrid(np.arange(SEMDEDUP_PLANES, dtype=np.int64),
                             np.arange(64, dtype=np.int64), indexing="ij")
        pl0 = np.rint((u01((SEMDEDUP_SEED + jj) * 64 + ii) - 0.5)
                      * 1000.0).astype(np.int64)
        bc_pl = spark.sparkContext.broadcast(pl0)

        def work(batches):
            pl = bc_pl.value
            w = 1 << np.arange(SEMDEDUP_PLANES, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
                yield pd.DataFrame({
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "cid": ((q @ pl.T >= 0).astype(np.int64) @ w),
                    "q": pdf["q"]})
        return df.mapInPandas(work, schema)

    def split_round(df, rules, depth):
        # rules: {cid: (dim, n, s)} — bisect at q[dim]·n > s; the
        # (side+1) marker occupies a per-depth reserved 2-bit field so
        # split cells never collide with untouched cells or other depths
        shift = SEMDEDUP_PLANES + depth * 2
        bc_r = spark.sparkContext.broadcast(rules)

        def work(batches):
            r = bc_r.value
            for pdf in batches:
                if not len(pdf):
                    continue
                cid = pdf["cid"].to_numpy(np.int64).copy()
                hot = np.fromiter(r.keys(), dtype=np.int64)
                m = np.isin(cid, hot)
                if m.any():
                    q = np.stack(pdf["q"].to_numpy())[m].astype(np.int64)
                    sub = np.zeros(int(m.sum()), dtype=np.int64)
                    cm = cid[m]
                    for c, (dim, n, s) in r.items():
                        g = cm == c
                        if g.any():
                            sub[g] = (q[g, dim] * n > s).astype(np.int64)
                    cid[m] = cm | ((sub + 1) << shift)
                yield pd.DataFrame({
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "cid": cid, "q": pdf["q"]})
        return df.mapInPandas(work, schema)

    dim_sum = [F.sum(F.element_at("q", i + 1).cast("long")).alias(f"s{i}")
               for i in range(64)]
    dim_ssq = [F.sum((F.element_at("q", i + 1).cast("long")
                      * F.element_at("q", i + 1).cast("long")))
               .alias(f"q{i}") for i in range(64)]
    # localCheckpoint per round: the split loop is iterative — without
    # truncation every counts/stats action re-executes the whole chain
    # of prior rounds (the graph.py connected-components lesson)
    cur = base_assign(qdf).localCheckpoint()
    terminal: set = set()
    for depth in range(max_depth):
        counts = (cur.groupBy("cid").count()
                  .where(F.col("count") > cap).collect())   # bounded
        hot = [int(r["cid"]) for r in counts
               if int(r["cid"]) not in terminal]
        if not hot:
            break
        stats = (cur.where(F.col("cid").isin(hot)).groupBy("cid")
                 .agg(F.count(F.lit(1)).alias("n"),
                      *dim_sum, *dim_ssq)
                 .collect())                                # ≤ #hot rows
        rules = {}
        for r in stats:
            n = int(r["n"])
            s = np.array([int(r[f"s{i}"]) for i in range(64)],
                         dtype=np.int64)
            ssq = np.array([int(r[f"q{i}"]) for i in range(64)],
                           dtype=np.int64)
            var_n2 = ssq * n - s * s        # n²·variance, exact int
            if var_n2.max() <= 0:           # all exact duplicates
                terminal.add(int(r["cid"]))
                continue
            dim = int(var_n2.argmax())      # ties → smaller dim
            rules[int(r["cid"])] = (dim, n, int(s[dim]))
        if not rules:
            break
        cur = split_round(cur, rules, depth).localCheckpoint()
    return (cur.groupBy("cid")
            .applyInPandas(_sd_prune, _sd_prune_out_schema()))


# --- dedup_substring_spans: exact duplicated-substring dedup (r5) ------------
#
# The NAMED method of Lee et al. 2022 ("Deduplicating Training Data
# Makes Language Models Better") in its equi-join gate form: find every
# maximal corpus-duplicated character span of length ≥ K per document.
# A position is duplicated iff its K-gram occurs ≥ 2 times corpus-wide
# (counting all occurrences, including within one document — the
# suffix-array criterion restricted to spans ≥ K), and overlapping or
# abutting duplicated K-gram windows merge into maximal spans via a
# gaps-and-islands window per document.
#
# Scale shape (ENGINE): K-gram explode → ONE gram-keyed groupBy count
# (map-side combinable) → semi-join back on the gram key → per-doc
# islands window — the shingle equi-join family, never doc×doc, never a
# corpus-wide window over gram partitions. The ORACLE instead counts
# occurrences with a window over each gram partition — a genuinely
# different plan that must agree bit-for-bit.

SUBSTR_K = 20


def q_dedup_substring_spans(spark, sf_dir):
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(f"""
WITH grams AS (
  SELECT doc_id, pos, SUBSTRING(text, pos, {SUBSTR_K}) AS g
  FROM documents
  LATERAL VIEW explode(sequence(1, length(text) - {SUBSTR_K - 1})) t AS pos
  WHERE length(text) >= {SUBSTR_K}),
dup_grams AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
dup AS (
  SELECT gr.doc_id, gr.pos FROM grams gr
  LEFT SEMI JOIN dup_grams dg ON gr.g = dg.g),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos <= COALESCE(MAX(pos + {SUBSTR_K}) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 0 ELSE 1 END AS new_island
  FROM dup),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM flagged),
spans AS (
  SELECT doc_id, isl, MIN(pos) AS s, MAX(pos) + {SUBSTR_K} AS e
  FROM islands GROUP BY doc_id, isl)
SELECT d.doc_id,
       CAST(COUNT(s.isl) AS BIGINT) AS n_spans,
       CAST(COALESCE(SUM(s.e - s.s), 0) AS BIGINT) AS dup_chars,
       CAST(MAX(d.n_chars) AS BIGINT) AS total_chars
FROM documents d LEFT JOIN spans s ON s.doc_id = d.doc_id
GROUP BY d.doc_id
ORDER BY d.doc_id
""")


ORACLE_SUBSTRING_SPANS = f"""
WITH grams AS MATERIALIZED (
  SELECT doc_id, pos, SUBSTRING(text, pos, {SUBSTR_K}) AS g
  FROM documents,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(
      1, LENGTH(text) - {SUBSTR_K - 1})) AS pos) p
  WHERE LENGTH(text) >= {SUBSTR_K}),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY g) AS c
    FROM grams) WHERE c >= 2),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos <= COALESCE(MAX(pos + {SUBSTR_K}) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 0 ELSE 1 END AS new_island
  FROM dup),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM flagged),
spans AS (
  SELECT doc_id, isl, MIN(pos) AS s, MAX(pos) + {SUBSTR_K} AS e
  FROM islands GROUP BY doc_id, isl)
SELECT d.doc_id,
       CAST(COUNT(s.isl) AS BIGINT) AS n_spans,
       CAST(COALESCE(SUM(s.e - s.s), 0) AS BIGINT) AS dup_chars,
       CAST(MAX(d.n_chars) AS BIGINT) AS total_chars
FROM documents d LEFT JOIN spans s ON s.doc_id = d.doc_id
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


# --- streaming batch-equivalents (C12 oracles; live streams in streaming.py) -------------

def q_tumbling_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast(DEC)).cast("double")
                  .alias("sum_value"))
            .select(F.expr(f"timestampdiff(SECOND, {_NTZ_EPOCH}, win.start)")
                    .alias("window_start_s"), "event_type",
                    "n", "sum_value"))


ORACLE_TUMBLING = """
SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) * 3600 AS window_start_s,
       event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sliding_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("user_id").alias("n_users"))
            .select(F.expr(f"timestampdiff(SECOND, {_NTZ_EPOCH}, win.start)")
                    .alias("window_start_s"),
                    "n", "n_users"))


ORACLE_SLIDING = """
SELECT CAST(FLOOR(EPOCH(ts) / 900) AS BIGINT) * 900 - k.v * 900
         AS window_start_s,
       COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(v)
GROUP BY 1
"""


def q_session_windows(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr(f"timestampdiff(MICROSECOND, {_NTZ_EPOCH}, ts)")
    gap = us - F.lag(us, 1).over(w)
    marked = e.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1)
                     .otherwise(0))
    sess = marked.withColumn(
        "sess_no", F.sum("new_sess").over(
            w.rowsBetween(W.unboundedPreceding, 0)))
    return (sess.groupBy("user_id", "sess_no")
            .agg(F.min("ts").alias("session_start"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))")
                 .alias("dur_us"))
            .drop("sess_no")
            .select("user_id", "session_start", "n_events", "dur_us"))


ORACLE_SESSION = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
              OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM marked)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS dur_us
FROM sess GROUP BY user_id, sess_no
"""


def q_event_dedup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (e.withColumn("rn", F.row_number().over(w)).where("rn = 1")
            .select("user_id", "event_type", "event_id", "ts"))


ORACLE_EVENT_DEDUP = """
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events) t
WHERE rn = 1
"""


# --- near-dup clustering (connected components over LSH pairs) ---------------

def q_attribution_pairs(spark, sf_dir):
    """Batch twin of streaming.attribution_pairs (the stream-stream
    interval join): every (view, click) pair by the same user with the
    click inside the 2-hour post-view horizon, delay in exact integer
    microseconds. Scale shape: one user_id-keyed equi-join with the range
    predicate applied post-match — fan-out bounded by views-per-user
    within the horizon, never a cross join; at stream scale the same plan
    runs incrementally with watermark-evicted state
    (streaming.py::attribution_pairs, stream≡batch pytest-asserted)."""
    e = (_t(spark, sf_dir, "events")
         .withColumn("ts", F.col("ts").cast("timestamp_ltz")))
    v = (e.where(F.col("event_type") == "view")
         .select("user_id", F.col("ts").alias("view_ts"),
                 F.col("event_id").alias("view_id")))
    c = (e.where(F.col("event_type") == "click")
         .select(F.col("user_id").alias("c_user"),
                 F.col("ts").alias("click_ts"),
                 F.col("event_id").alias("click_id")))
    return (v.join(c, (v["user_id"] == c["c_user"]) &
                   (c["click_ts"] >= v["view_ts"]) &
                   (c["click_ts"] <= v["view_ts"] +
                    F.expr("INTERVAL 2 HOURS")))
            .select("user_id", "view_id", "click_id",
                    (F.unix_micros("click_ts") -
                     F.unix_micros("view_ts")).alias("delay_us")))


ORACLE_ATTRIBUTION = """
SELECT a.user_id, a.event_id AS view_id, b.event_id AS click_id,
       epoch_us(b.ts) - epoch_us(a.ts) AS delay_us
FROM events a JOIN events b ON b.user_id = a.user_id
WHERE a.event_type = 'view' AND b.event_type = 'click'
  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
"""


def q_user_session_features(spark, sf_dir):
    """Batch twin of streaming.session_features — the
    ``transformWithStateInPandas`` arbitrary-state operator (Spark 4
    StatefulProcessor with a ValueState + MapState per user). Every
    feature is order-independent (count, integer-micros sum, distinct
    types, ts span), so this one groupBy IS the converged streaming
    state; stream≡batch is pytest-asserted in test_streaming.py."""
    e = (_t(spark, sf_dir, "events")
         .withColumn("us", F.unix_micros(F.col("ts")
                                         .cast("timestamp_ltz"))))
    return (e.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.expr("CAST(ROUND(value * 1000000.0) AS BIGINT)"))
                 .alias("sum_value_micros"),
                 F.countDistinct("event_type").alias("n_types"),
                 (F.max("us") - F.min("us")).alias("span_us")))


ORACLE_SESSION_FEATURES = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS BIGINT)
         AS sum_value_micros,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS span_us
FROM events GROUP BY 1
"""


def q_dedup_clusters(spark, sf_dir):
    """The clustering step of the dedup pipeline: strong LSH candidate
    pairs (n_bands >= 4, the precision knob) become duplicate GROUPS via
    distributed min-label propagation (spark_shp.graph.connected_components
    — one shuffle per round, driver holds only a convergence counter,
    lineage truncated per round). Each doc maps to the minimum doc_id of
    its component — the canonical survivor a 100 TB dedup would keep. The
    oracle recomputes components with a recursive transitive-closure CTE."""
    from .graph import connected_components
    pairs = (q_minhash_lsh_pairs(spark, sf_dir)
             .where(F.col("n_bands") >= 4))
    comp = connected_components(pairs, "doc_a", "doc_b")
    return comp.select(F.col("node").alias("doc_id"),
                       F.col("component").alias("cluster"))


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE p AS (
  SELECT * FROM ({ORACLE_LSH_PAIRS}) lp WHERE n_bands >= 4),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM p
  UNION ALL SELECT doc_b, doc_a FROM p),
nodes AS (SELECT DISTINCT s AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.d FROM reach r JOIN edges e ON e.s = r.m)
SELECT n AS doc_id, MIN(m) AS cluster FROM reach GROUP BY n
"""


def q_dedup_survivors(spark, sf_dir):
    """The LAST step of the dedup pipeline: per duplicate cluster, keep the
    highest-quality member (quality_score desc, doc_id asc tiebreak) and
    report group size — the doc set a 100 TB curation job would actually
    emit. Docs outside any cluster are their own singleton survivors, so
    SUM(n_members) == corpus size (the conservation invariant a dropped
    or double-counted doc breaks). One extra shuffle over the clusters:
    a left join of docs to cluster labels + one max_by aggregation."""
    docs = q_quality_score(spark, sf_dir)
    clusters = q_dedup_clusters(spark, sf_dir)
    lab = (docs.join(clusters, "doc_id", "left")
           .select("doc_id", "quality_score",
                   F.coalesce("cluster", "doc_id").alias("cluster")))
    return (lab.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.expr("max_by(doc_id, struct(quality_score, -doc_id))")
                 .alias("survivor_id"),
                 F.round(F.max("quality_score"), 6).alias("best_quality")))


ORACLE_DEDUP_SURVIVORS = f"""
WITH q AS ({ORACLE_QUALITY}),
c AS ({ORACLE_DEDUP_CLUSTERS}),
lab AS (
  SELECT q.doc_id, q.quality_score, COALESCE(c.cluster, q.doc_id) AS cluster
  FROM q LEFT JOIN c ON q.doc_id = c.doc_id),
agg AS (
  SELECT cluster, COUNT(*) AS n_members,
         ROUND(MAX(quality_score), 6) AS best_quality
  FROM lab GROUP BY cluster),
sel AS (
  SELECT cluster, doc_id AS survivor_id,
         ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY quality_score DESC, doc_id) AS rn
  FROM lab)
SELECT a.cluster, a.n_members, s.survivor_id, a.best_quality
FROM agg a JOIN sel s ON s.cluster = a.cluster AND s.rn = 1
"""


# --- PII scrubbing ------------------------------------------------------------

# Bracket classes ([.] [+]) instead of backslash escapes: Spark SQL string
# literals eat lone backslashes while DuckDB's don't, so any \-escape would
# hand the two engines different patterns.
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
_PHONE_RE = "[+]1-[0-9]{3}-[0-9]{4}"


def q_pii_scrub(spark, sf_dir):
    """Training-data PII scrub: every document gets a deterministic
    synthetic contact line appended (the real corpus text has no PII, and
    proving zero false positives on it is part of the check), then email
    and phone patterns are counted and redacted. The scrubbed STRING
    itself is in the gated output, so replacement semantics (all-match,
    ordering, pattern dialect) must agree between Spark's Java regex and
    DuckDB's RE2 — the patterns stay inside the common subset."""
    d = _t(spark, sf_dir, "documents")
    aug = d.selectExpr(
        "doc_id",
        "concat(text, ' contact user', CAST(doc_id AS STRING),"
        " '@mail.example.org or +1-',"
        " lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-',"
        " lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) AS aug")
    return aug.selectExpr(
        "doc_id",
        f"CAST(size(regexp_extract_all(aug, '{_EMAIL_RE}', 0)) AS BIGINT)"
        " AS n_emails",
        f"CAST(size(regexp_extract_all(aug, '{_PHONE_RE}', 0)) AS BIGINT)"
        " AS n_phones",
        f"regexp_replace(regexp_replace(aug, '{_EMAIL_RE}', '<EMAIL>'),"
        f" '{_PHONE_RE}', '<PHONE>') AS scrubbed")


ORACLE_PII_SCRUB = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.org or +1-'
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '{_EMAIL_RE}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(aug, '{_PHONE_RE}')) AS BIGINT)
         AS n_phones,
       regexp_replace(regexp_replace(aug, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
FROM aug
"""


QUERIES: dict = {
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "token_stats": (q_token_stats, ORACLE_TOKEN_STATS),
    "quality_score": (q_quality_score, ORACLE_QUALITY),
    "langid_heuristic": (q_langid_heuristic, ORACLE_LANGID),
    "minhash_signatures": (q_minhash_signatures, ORACLE_MINHASH),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, ORACLE_LSH_PAIRS),
    "simhash16": (q_simhash16, ORACLE_SIMHASH),
    "bigram_jaccard": (q_bigram_jaccard, ORACLE_JACCARD),
    "doc_fingerprint": (q_doc_fingerprint, ORACLE_FINGERPRINT),
    "cosine_topk": (q_cosine_topk, ORACLE_COSINE),
    "ann_lsh_buckets": (q_ann_lsh_buckets, ORACLE_ANN),
    "ann_ivf_search": (q_ann_ivf_search, ORACLE_ANN_IVF),
    "dedup_embedding_near": (q_dedup_embedding_near, ORACLE_EMB_NEAR),
    "tumbling_window": (q_tumbling_window, ORACLE_TUMBLING),
    "sliding_window": (q_sliding_window, ORACLE_SLIDING),
    "session_windows": (q_session_windows, ORACLE_SESSION),
    "event_dedup": (q_event_dedup, ORACLE_EVENT_DEDUP),
    "dedup_clusters": (q_dedup_clusters, ORACLE_DEDUP_CLUSTERS),
    "dedup_survivors": (q_dedup_survivors, ORACLE_DEDUP_SURVIVORS),
    "pii_scrub": (q_pii_scrub, ORACLE_PII_SCRUB),
    "attribution_pairs": (q_attribution_pairs, ORACLE_ATTRIBUTION),
    "user_session_features": (q_user_session_features,
                              ORACLE_SESSION_FEATURES),
    "semantic_dedup": (q_semantic_dedup, ORACLE_SEMDEDUP),
    "semantic_dedup_kmeans": (q_semantic_dedup_kmeans,
                              _oracle_sd_kmeans()),
    "dedup_substring_spans": (q_dedup_substring_spans,
                              ORACLE_SUBSTRING_SPANS),
}


# --- dedup_containment: drop docs that are substrings of another doc ---------------
#
# The curation step between exact dedup (identical text) and fuzzy LSH:
# a document wholly CONTAINED in a longer one (quote pages, mirrored
# excerpts, boilerplate-wrapped copies) carries no new tokens and is
# dropped.  Never all-pairs: a token-aligned contained doc shares every
# one of its 3-token rolling windows with its container, so its MINIMUM
# window hash (= its winnowing fingerprint, the doc_fingerprint operator)
# must appear in the container's window-hash set — one equi-join on the
# hash key finds every candidate pair, and a substring verify on the two
# texts confirms.  Plan: roll-hash pass (window over doc), fingerprint
# agg, hash-keyed candidate join, two joins back to the text column,
# codegen INSTR verify — every stage shuffles on a key, nothing is
# corpus × corpus.
#
# The synthetic corpus has no real containments, so the gated input is
# documents UNION token-aligned snippets cut from every 11th doc (tokens
# 3..10, ids offset by 1,000,000) — built from the same deterministic
# expression in both engines (the wav_decode_stats injection idiom).
# Verification wraps both texts in spaces so only token-boundary-aligned
# containment counts, and strict length-< keeps equal-text pairs in
# dedup_exact's jurisdiction.

CONTAIN_SNIP_MOD = 11
CONTAIN_SNIP_OFF = 1_000_000


def _contain_corpus(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    snip = (d.where(f"doc_id % {CONTAIN_SNIP_MOD} = 0 "
                    "AND size(split(text, ' ')) >= 10")
            .selectExpr(f"doc_id + {CONTAIN_SNIP_OFF} AS doc_id",
                        "array_join(slice(split(text, ' '), 3, 8), ' ') "
                        "AS text"))
    return d.unionByName(snip)


def q_dedup_containment(spark, sf_dir):
    corpus = _contain_corpus(spark, sf_dir)
    toks = (corpus
            .select("doc_id", F.posexplode(F.split("text", " "))
                    .alias("pos", "w"))
            .selectExpr("doc_id", "pos", f"{word_hash_sql('w')} AS wh"))
    w = W.partitionBy("doc_id").orderBy("pos")
    roll = (toks.select(
        "doc_id",
        (F.col("wh") + 31 * F.lead("wh", 1).over(w)
         + 961 * F.lead("wh", 2).over(w)).alias("rh"))
        .where(F.col("rh").isNotNull()))
    fp = roll.groupBy("doc_id").agg(F.min("rh").alias("fp"))
    wins = roll.distinct().selectExpr("doc_id AS b_id", "rh")
    cand = (fp.join(wins, fp["fp"] == wins["rh"])
            .where(F.col("doc_id") != F.col("b_id"))
            .select(F.col("doc_id").alias("a_id"), "b_id").distinct())
    ta = corpus.selectExpr("doc_id AS a_id", "text AS a_text")
    tb = corpus.selectExpr("doc_id AS b_id", "text AS b_text")
    ver = (cand.join(ta, "a_id").join(tb, "b_id")
           .where("LENGTH(a_text) < LENGTH(b_text) AND "
                  "INSTR(CONCAT(' ', b_text, ' '), "
                  "CONCAT(' ', a_text, ' ')) > 0"))
    return (ver.groupBy("a_id")
            .agg(F.count(F.lit(1)).alias("n_containers"),
                 F.min("b_id").alias("first_container"))
            .selectExpr("CAST(a_id AS BIGINT) AS contained_id",
                        "CAST(n_containers AS BIGINT) AS n_containers",
                        "CAST(first_container AS BIGINT) AS first_container"))


ORACLE_CONTAINMENT = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {CONTAIN_SNIP_OFF} AS doc_id,
         array_to_string((string_split(text, ' '))[3:10], ' ') AS text
  FROM documents
  WHERE doc_id % {CONTAIN_SNIP_MOD} = 0 AND len(string_split(text, ' ')) >= 10),
toks AS (
  SELECT doc_id, i AS pos, {word_hash_sql('w')} AS wh
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM corpus) t),
roll AS (
  SELECT doc_id,
         wh + 31 * LEAD(wh, 1) OVER (PARTITION BY doc_id ORDER BY pos)
            + 961 * LEAD(wh, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS rh
  FROM toks),
rolled AS (SELECT doc_id, rh FROM roll WHERE rh IS NOT NULL),
fp AS (SELECT doc_id, MIN(rh) AS fp FROM rolled GROUP BY 1),
wins AS (SELECT DISTINCT doc_id AS b_id, rh FROM rolled),
cand AS (
  SELECT DISTINCT fp.doc_id AS a_id, wins.b_id
  FROM fp JOIN wins ON fp.fp = wins.rh AND fp.doc_id <> wins.b_id),
ver AS (
  SELECT a_id, b_id
  FROM cand
  JOIN corpus ca ON ca.doc_id = a_id
  JOIN corpus cb ON cb.doc_id = b_id
  WHERE LENGTH(ca.text) < LENGTH(cb.text)
    AND POSITION(' ' || ca.text || ' ' IN ' ' || cb.text || ' ') > 0)
SELECT CAST(a_id AS BIGINT) AS contained_id,
       CAST(COUNT(*) AS BIGINT) AS n_containers,
       CAST(MIN(b_id) AS BIGINT) AS first_container
FROM ver GROUP BY 1
"""


QUERIES.update({
    "dedup_containment": (q_dedup_containment, ORACLE_CONTAINMENT),
})


# --- text_encoding_audit: mojibake / control-char / zero-width QA ------------------
#
# The encoding-hygiene filter every web-scale curation pipeline runs
# before tokenization (CCNet/RefinedWeb-class cleanup): per-language
# counts of documents carrying C0 control characters, zero-width
# characters (ZWSP/ZWNJ/BOM), UTF-8-as-Latin-1 mojibake markers
# ("Ã" followed by a Latin-1 supplement continuation), and the
# replacement character � — plus the byte volume a scrub would
# reclaim.  Pure string predicates over one scan + one tiny-key agg;
# the characters enter both engines as identical Python-rendered string
# LITERALS (Spark SQL chr() is ASCII-only, so codepoint construction
# in-plan is a portability trap — the literal rule sidesteps it).
#
# The synthetic corpus is clean, so every 13th doc gets a deterministic
# corruption suffix (class = doc_id % 4) appended IN-PLAN by the same
# expression in both engines (the dedup_containment injection idiom);
# the audit must recover exactly the injected classes.

ENC_MOD = 13
_ENC_BAD = ["", "​", "Ã©", "�"]  # bell/ZWSP/mojibake e-acute/repl


def _enc_corrupt_sql(text: str, doc_id: str) -> str:
    cases = " ".join(
        f"WHEN {doc_id} % 4 = {i} THEN '{c}'"
        for i, c in enumerate(_ENC_BAD))
    return (f"CASE WHEN {doc_id} % {ENC_MOD} = 0 THEN "
            f"CONCAT({text}, ' x', CASE {cases} END) ELSE {text} END")


_ENC_FLAGS = (
    ("has_control", "(CONTAINS(text, '') OR CONTAINS(text, '')"
                    " OR CONTAINS(text, ''))"),
    ("has_zero_width", "(CONTAINS(text, '​') OR CONTAINS(text, '‌')"
                       " OR CONTAINS(text, '﻿'))"),
    ("has_mojibake", "(CONTAINS(text, 'Ã©') OR CONTAINS(text, 'Ã¨')"
                     " OR CONTAINS(text, 'Â '))"),
    ("has_replacement", "CONTAINS(text, '�')"),
)


def q_text_encoding_audit(spark, sf_dir):
    d = (_t(spark, sf_dir, "documents")
         .selectExpr("doc_id", "lang",
                     f"{_enc_corrupt_sql('text', 'doc_id')} AS text"))
    flags = d.selectExpr(
        "lang",
        *[f"CAST({expr} AS INT) AS {name}" for name, expr in _ENC_FLAGS],
        # bytes a scrub would reclaim (chars are 1- or 3-byte in these
        # classes; count octets, the storage-level number)
        "OCTET_LENGTH(text) - OCTET_LENGTH("
        " REPLACE(REPLACE(REPLACE(REPLACE(text, '', ''),"
        " '​', ''), 'Ã©', ''), '�', ''))"
        " AS reclaim_bytes")
    return (flags.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 *[F.sum(name).alias(f"n_{name[4:]}")
                   for name, _ in _ENC_FLAGS],
                 F.sum("reclaim_bytes").alias("reclaim_bytes"))
            .selectExpr("lang", "CAST(n_docs AS BIGINT) AS n_docs",
                        "CAST(n_control AS BIGINT) AS n_control",
                        "CAST(n_zero_width AS BIGINT) AS n_zero_width",
                        "CAST(n_mojibake AS BIGINT) AS n_mojibake",
                        "CAST(n_replacement AS BIGINT) AS n_replacement",
                        "CAST(reclaim_bytes AS BIGINT) AS reclaim_bytes"))


def _oracle_enc() -> str:
    flag_cols = ",\n         ".join(
        f"CAST({expr} AS INT) AS {name}" for name, expr in _ENC_FLAGS)
    return f"""
WITH d AS (
  SELECT doc_id, lang, {_enc_corrupt_sql('text', 'doc_id')} AS text
  FROM documents),
flags AS (
  SELECT lang,
         {flag_cols},
         STRLEN(text) - STRLEN(
           REPLACE(REPLACE(REPLACE(REPLACE(text, '', ''),
           '​', ''), 'Ã©', ''), '�', ''))
           AS reclaim_bytes
  FROM d)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(has_control) AS BIGINT) AS n_control,
       CAST(SUM(has_zero_width) AS BIGINT) AS n_zero_width,
       CAST(SUM(has_mojibake) AS BIGINT) AS n_mojibake,
       CAST(SUM(has_replacement) AS BIGINT) AS n_replacement,
       CAST(SUM(reclaim_bytes) AS BIGINT) AS reclaim_bytes
FROM flags GROUP BY lang
"""


QUERIES.update({
    "text_encoding_audit": (q_text_encoding_audit, _oracle_enc()),
})
