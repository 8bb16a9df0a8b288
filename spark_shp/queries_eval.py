"""Serving / eval wave (round-3 continuation session 6):

lakehouse    — pit_join_scd2: point-in-time (AS OF) fact-to-dimension
               join against the SCD type-2 dimension scd2_intervals
               builds — the lookup side of every warehouse dimension
               load.  The naive form is an interval theta join (fact.ts
               BETWEEN valid_from AND valid_to) that Spark executes as a
               broadcast-nested-loop or a per-key pair blow-up; this
               re-plans it as the asof_join_event_order union-merge
               (ONE shuffle on the key, linear per key) applied to the
               dimension's change stream.
ML eval      — average_precision: exact AP (area under the PR curve in
               its sum-over-positives form) per segment from integer
               rank sums under a total order, next to roc_auc/lift_gains.
audio QA     — audio_clipping_detect: saturation / clipped-sample audit
               over REAL RIFF/WAV decode (counts, position checksum, and
               the max consecutive-clip run via gaps-and-islands).

All oracle-gated exact (DuckDB twins); none is in the query registry
(spark_shp.registry holds only the paper's spatial path).  Reference parity:
upstream shapefile-js is geometry ingest (SURVEY.md §2.A
[RECONSTRUCTED]); these extend the §6 analytics/curation families.

Determinism rules (FIXTURES.md): exact integer distributed aggregates;
floats only in ONE literal expression shared verbatim with the oracle,
under ROUND(...,6); ranks always carry a total-order tiebreak.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql import types as T

_ = (np, pd)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- pit_join_scd2: point-in-time join against the SCD-2 dimension -----------
#
# Semantics: each event picks the dimension version whose half-open
# validity interval [valid_from, valid_to) contains its ts (the version
# with the greatest valid_from <= ts).  Zero-width intervals (two
# priority changes on the same order date) match nothing, exactly as the
# BETWEEN-style oracle join computes.
#
# Plan: the dimension IS its change stream, so the interval join
# collapses to an as-of merge — union the dimension change rows (kind 0,
# at valid_from, ordered by version seq so the last same-instant change
# wins) with the events (kind 1) and carry the latest version forward
# with last(ignorenulls) over an unbounded-preceding window.  ONE
# shuffle on the key and linear work per key; the theta-join form
# materializes every (event x candidate-version) pair first.


def q_pit_join_scd2(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = F.when(
        F.lag("o_orderpriority").over(w).isNull()
        | (F.lag("o_orderpriority").over(w) != F.col("o_orderpriority")),
        1).otherwise(0)
    dim = (o.withColumn("chg", chg)
           .withColumn("grp", F.sum("chg").over(
               w.rowsBetween(W.unboundedPreceding, 0)))
           .groupBy("o_custkey", "grp")
           .agg(F.min("o_orderpriority").alias("priority"),
                F.min("o_orderdate").alias("valid_from"),
                F.count(F.lit(1)).alias("n_orders")))

    e = _t(spark, sf_dir, "events")
    dimrows = dim.selectExpr(
        "o_custkey AS user_id", "valid_from AS t", "0 AS kind",
        "grp AS seq", "CAST(NULL AS BIGINT) AS event_id",
        "priority", "valid_from", "CAST(n_orders AS BIGINT) AS n_orders")
    evrows = e.selectExpr(
        "user_id", "ts AS t", "1 AS kind", "event_id AS seq", "event_id",
        "CAST(NULL AS STRING) AS priority",
        "CAST(NULL AS TIMESTAMP) AS valid_from",
        "CAST(NULL AS BIGINT) AS n_orders")
    u = dimrows.unionByName(evrows)
    wm = (W.partitionBy("user_id")
          .orderBy(F.col("t").asc(), F.col("kind").asc(),
                   F.col("seq").asc())
          .rowsBetween(W.unboundedPreceding, 0))
    picked = F.last(
        F.when(F.col("kind") == 0,
               F.struct("priority", "valid_from", "n_orders")),
        ignorenulls=True).over(wm)
    return (u.withColumn("_p", picked)
            .where((F.col("kind") == 1) & F.col("_p").isNotNull())
            .select("event_id", "user_id",
                    F.col("_p.priority").alias("priority"),
                    F.col("_p.valid_from").alias("valid_from"),
                    F.col("_p.n_orders").alias("n_orders")))


ORACLE_PIT = """
WITH o AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         CASE WHEN LAG(o_orderpriority) OVER w IS NULL
              OR LAG(o_orderpriority) OVER w != o_orderpriority
         THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
g0 AS (
  SELECT o_custkey, o_orderpriority, o_orderdate,
         SUM(chg) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM o),
g AS (
  SELECT o_custkey, grp, MIN(o_orderpriority) AS priority,
         MIN(o_orderdate) AS valid_from, COUNT(*) AS n_orders
  FROM g0 GROUP BY o_custkey, grp),
scd2 AS (
  SELECT o_custkey, priority, valid_from, n_orders,
         LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY grp)
           AS valid_to
  FROM g)
SELECT e.event_id, e.user_id, d.priority, d.valid_from,
       CAST(d.n_orders AS BIGINT) AS n_orders
FROM events e JOIN scd2 d
  ON e.user_id = d.o_custkey
 AND e.ts >= d.valid_from
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
"""


# --- average_precision: exact AP per segment from integer rank sums ----------
#
# AP in its sum-over-positives form: (1/P) * sum over positive ranks k of
# precision@k.  The ranking is a TOTAL order (score desc, key asc — the
# lift_gains rule), so every engine sees the same permutation; each
# precision@k term is quantized to floor(Q * cum_pos / k) BEFORE the
# variable-cardinality sum, so the distributed aggregate is exact int64
# and the only float op is the final one-literal division.  Plan (r4,
# VERDICT item 4's second op): the per-segment global window is
# de-serialized with the l_moments/outlier_audit two-phase pattern —
# rank and running positives only WITHIN each (segment, score-bucket),
# then add the bucket's cumulative (count, positives) base offsets from
# a window over the TINY per-bucket aggregate.  Buckets are monotone in
# the (s DESC) sort and score ties share a bucket, so base + local
# equals the oracle's global ROW_NUMBER / running SUM exactly;
# parallelism is segments x buckets instead of one task per segment.

AP_Q = 1_000_000
AP_BUCKET = 1 << 21          # ~2M-cent score bands (~30 buckets)


def q_average_precision(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    r = o.selectExpr(
        "o_orderpriority AS seg",
        "CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS s",
        "o_orderkey AS key",
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y").selectExpr(
        "seg", "s", "key", "y",
        f"-(s DIV {AP_BUCKET}) AS bkt")      # ascends as score descends
    base = (r.groupBy("seg", "bkt")
            .agg(F.count(F.lit(1)).alias("c"), F.sum("y").alias("cy"))
            .selectExpr(
                "seg", "bkt",
                "COALESCE(SUM(c) OVER (PARTITION BY seg ORDER BY bkt "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
                "AS base_n",
                "COALESCE(SUM(cy) OVER (PARTITION BY seg ORDER BY bkt "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
                "AS base_p"))
    w = W.partitionBy("seg", "bkt").orderBy(F.desc("s"), F.asc("key"))
    k = (r.join(F.broadcast(base), ["seg", "bkt"])
         .withColumn("k", F.expr("base_n") + F.row_number().over(w))
         .withColumn("cp", F.expr("base_p") + F.sum("y").over(
             w.rowsBetween(W.unboundedPreceding, 0))))
    return (k.groupBy("seg")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("y").alias("p"),
                 F.sum(F.expr(
                     f"CASE WHEN y = 1 THEN ({AP_Q} * cp) DIV k "
                     "ELSE 0 END")).alias("ap_sum_q"))
            .selectExpr(
                "seg", "CAST(n AS BIGINT) AS n", "CAST(p AS BIGINT) AS p",
                "CAST(ap_sum_q AS BIGINT) AS ap_sum_q",
                f"ROUND(CAST(ap_sum_q AS DOUBLE) / "
                f"(CAST(p AS DOUBLE) * {float(AP_Q)!r}), 6) AS ap"))


ORACLE_AP = f"""
WITH r AS (
  SELECT o_orderpriority AS seg,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS s,
         o_orderkey AS key,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders),
k AS (
  SELECT seg, y,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY s DESC, key) AS k,
         SUM(y) OVER (PARTITION BY seg ORDER BY s DESC, key
                      ROWS UNBOUNDED PRECEDING) AS cp
  FROM r)
SELECT seg, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p,
       CAST(SUM(CASE WHEN y = 1 THEN ({AP_Q} * cp) // k ELSE 0 END)
            AS BIGINT) AS ap_sum_q,
       ROUND(CAST(SUM(CASE WHEN y = 1 THEN ({AP_Q} * cp) // k ELSE 0 END)
                  AS DOUBLE)
             / (CAST(SUM(y) AS DOUBLE) * {float(AP_Q)!r}), 6) AS ap
FROM k GROUP BY seg
"""


# --- audio_clipping_detect: saturation audit over real WAV decode ------------
#
# The mastering/ingest QA pass every audio pipeline runs: decode PCM
# through the real RIFF walk and count full-scale samples (32767 /
# -32768 — the detector definition: a sample AT the rail is potentially
# clipped), their position-weighted checksum (catches off-by-one frame
# alignment), total |x| mass, and the LONGEST consecutive clipped run
# (gaps-and-islands over sample index).  The synthesis holds its level
# constant over 8-sample blocks (+ a small per-sample dither) and drives
# ~9% of blocks past full scale before the int16 clamp, so clipping is
# BURSTY — multi-sample runs, like real clipped audio; a per-sample
# white synth never clips twice in a row and the max-run column would
# gate nothing (the planted-structure rule caught exactly that on the
# first draft).  Fixture-sized (24 streams), SF-independent, like the
# ZCR/spectral-peak rows; the per-stream kernel is one numpy pass.

N_CLIP_WAV = 24


def q_audio_clipping(spark, sf_dir, n_streams: int = N_CLIP_WAV,
                     partitions: int = 4):
    from . import riff

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_clip_hi", T.LongType()),
        T.StructField("n_clip_lo", T.LongType()),
        T.StructField("max_clip_run", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("clip_checksum", T.LongType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                n = 1024 + (i * 256) % 1281
                k = np.arange(n, dtype=np.int64)
                u = (i * 48271 + (k // 8) * 16807) % 65536
                raw = ((u % 9000) - 4500) * 8 + (k % 8)
                s = np.clip(raw, -32768, 32767).astype(np.int16)
                wav, rate = riff.wav_decode(riff.wav_encode(s, 16000))
                got = np.round(wav[:, 0].astype(np.float64)
                               * 32768.0).astype(np.int64)
                assert rate == 16000 and len(got) == n
                clip = (got == 32767) | (got == -32768)
                if clip.any():
                    idx = np.flatnonzero(clip)
                    grp = idx - np.arange(len(idx))
                    runs = np.bincount(grp - grp.min())
                    max_run = int(runs.max())
                else:
                    max_run = 0
                rows.append((f"wav{i:03d}", n,
                             int((got == 32767).sum()),
                             int((got == -32768).sum()),
                             max_run,
                             int(np.abs(got).sum()),
                             int(((k + 1) * clip).sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, n_streams, numPartitions=partitions)
            .mapInPandas(work, schema))


def _oracle_clipping() -> str:
    samp = ("LEAST(32767, GREATEST(-32768, "
            "(((i * 48271 + (k // 8) * 16807) % 65536) % 9000 - 4500) * 8"
            " + (k % 8)))")
    return f"""
WITH ids AS (
  SELECT i, 1024 + (i * 256) % 1281 AS n
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_CLIP_WAV - 1})) AS i) t),
s AS MATERIALIZED (
  SELECT i, k, {samp} AS v
  FROM ids, GENERATE_SERIES(0, 2400) g(k)
  WHERE k < n),
c AS MATERIALIZED (
  SELECT i, k, v,
         CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END AS clip
  FROM s),
isl AS (
  SELECT i, k - ROW_NUMBER() OVER (PARTITION BY i ORDER BY k) AS grp
  FROM c WHERE clip = 1),
runs AS (SELECT i, COUNT(*) AS run FROM isl GROUP BY i, grp),
mr AS (SELECT i, MAX(run) AS max_run FROM runs GROUP BY i),
per AS (
  SELECT c.i, COUNT(*) AS n_samples,
         SUM(CASE WHEN v = 32767 THEN 1 ELSE 0 END) AS n_clip_hi,
         SUM(CASE WHEN v = -32768 THEN 1 ELSE 0 END) AS n_clip_lo,
         SUM(ABS(v)) AS sum_abs,
         SUM(clip * (k + 1)) AS clip_checksum
  FROM c GROUP BY c.i)
SELECT printf('wav%03d', per.i) AS media_id,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(n_clip_hi AS BIGINT) AS n_clip_hi,
       CAST(n_clip_lo AS BIGINT) AS n_clip_lo,
       CAST(COALESCE(mr.max_run, 0) AS BIGINT) AS max_clip_run,
       CAST(sum_abs AS BIGINT) AS sum_abs,
       CAST(clip_checksum AS BIGINT) AS clip_checksum
FROM per LEFT JOIN mr ON per.i = mr.i
"""


QUERIES: dict = {
    "pit_join_scd2": (q_pit_join_scd2, ORACLE_PIT),
    "average_precision": (q_average_precision, ORACLE_AP),
    "audio_clipping_detect": (q_audio_clipping, _oracle_clipping()),
}


# --- rouge_lcs_pairs: ROUGE-L candidate/reference eval via staged LCS DP ------
#
# The summarization/translation eval metric (Lin 2004): longest common
# SUBSEQUENCE between token sequences, then ROUGE-L F1 = 2*LCS/(m+n).
# Docs pair up (2j = candidate, 2j+1 = reference); each side contributes
# a variable-length token prefix (m = 5 + doc_id % 4 — variable lengths
# exercise the padding semantics a fixed 8x8 grid would hide).  The DP
# d[r][c] = a_r==b_c ? d[r-1][c-1]+1 : max(d[r-1][c], d[r][c-1]) unrolls
# into anti-diagonal staged projections (the trajectory_alignment DTW
# machinery applied to strings): pure codegen CASE/GREATEST over 64
# cells, no Python in the hot path, ONE pair-keyed equi-join.  Padding
# tokens are position-and-side-unique literals, so they never match.
# The F1 is the one-literal float division from exact ints.

LCS_L = 8


def _lcs_pivot(side: str, one_based_brackets: bool = True) -> list:
    """(alias, expr) for the per-doc token-prefix pivot: tok k if k < m
    else a side+position-unique pad literal.  Token access is 1-based in
    both dialects but spelled differently: DuckDB list brackets are
    1-based, Spark brackets are 0-based so the Spark side uses the
    1-based element_at()."""
    acc = (lambda k: f"tk[{k + 1}]") if one_based_brackets \
        else (lambda k: f"element_at(tk, {k + 1})")
    return [(f"{side}_{k}",
             f"CASE WHEN {k} < mlen THEN {acc(k)} "
             f"ELSE '#{side.upper()}{k}' END")
            for k in range(LCS_L)]


def _lcs_dp_stages() -> list:
    """Anti-diagonal LCS DP stages; stage k references stages < k only."""
    L = LCS_L
    match = [(f"e_{r}_{c}",
              f"(CASE WHEN a_{r} = b_{c} THEN 1 ELSE 0 END)")
             for r in range(L) for c in range(L)]
    stages = [match]
    for diag in range(2 * L - 1):
        st = []
        for r in range(L):
            c = diag - r
            if not 0 <= c < L:
                continue
            e = f"e_{r}_{c}"
            if r == 0 and c == 0:
                st.append((f"l_{r}_{c}", f"({e})"))
            elif r == 0:
                st.append((f"l_{r}_{c}",
                           f"(GREATEST(l_{r}_{c - 1}, {e}))"))
            elif c == 0:
                st.append((f"l_{r}_{c}",
                           f"(GREATEST(l_{r - 1}_{c}, {e}))"))
            else:
                st.append((
                    f"l_{r}_{c}",
                    f"(CASE WHEN {e} = 1 THEN l_{r - 1}_{c - 1} + 1 "
                    f"ELSE GREATEST(l_{r - 1}_{c}, l_{r}_{c - 1}) "
                    f"END)"))
        stages.append(st)
    return stages


def q_rouge_lcs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "split(text, ' ') AS tk",
        "5 + doc_id % 4 AS mlen")
    apiv = [f"{e} AS {al}"
            for al, e in _lcs_pivot("a", one_based_brackets=False)]
    bpiv = [f"{e} AS {al}"
            for al, e in _lcs_pivot("b", one_based_brackets=False)]
    a = d.where("doc_id % 2 = 0").selectExpr(
        "doc_id DIV 2 AS pair_id", "mlen AS m", *apiv)
    b = d.where("doc_id % 2 = 1").selectExpr(
        "doc_id DIV 2 AS pair_id", "mlen AS n", *bpiv)
    pairs = a.join(b, "pair_id")
    for st in _lcs_dp_stages():
        pairs = pairs.selectExpr("*", *[f"{e} AS {al}" for al, e in st])
    last = LCS_L - 1
    return pairs.selectExpr(
        "pair_id", "CAST(m AS BIGINT) AS m", "CAST(n AS BIGINT) AS n",
        f"CAST(l_{last}_{last} AS BIGINT) AS lcs",
        f"ROUND(CAST(2 * l_{last}_{last} AS DOUBLE) "
        f"/ CAST(m + n AS DOUBLE), 6) AS rouge_f1")


def _oracle_rouge() -> str:
    apiv = ", ".join(f"{e} AS {al}" for al, e in _lcs_pivot("a"))
    bpiv = ", ".join(f"{e} AS {al}" for al, e in _lcs_pivot("b"))
    ctes = [f"""
base AS (
  SELECT doc_id, string_split(text, ' ') AS tk, 5 + doc_id % 4 AS mlen
  FROM documents),
pa AS (SELECT doc_id // 2 AS pair_id, mlen AS m, {apiv}
       FROM base WHERE doc_id % 2 = 0),
pb AS (SELECT doc_id // 2 AS pair_id, mlen AS n, {bpiv}
       FROM base WHERE doc_id % 2 = 1),
t0 AS (SELECT * FROM pa JOIN pb USING (pair_id))"""]
    prev = "t0"
    for k, st in enumerate(_lcs_dp_stages(), start=1):
        cols = ", ".join(f"{e} AS {al}" for al, e in st)
        ctes.append(f"t{k} AS (SELECT *, {cols} FROM {prev})")
        prev = f"t{k}"
    last = LCS_L - 1
    return ("WITH " + ",".join(ctes) + f"""
SELECT pair_id, CAST(m AS BIGINT) AS m, CAST(n AS BIGINT) AS n,
       CAST(l_{last}_{last} AS BIGINT) AS lcs,
       ROUND(CAST(2 * l_{last}_{last} AS DOUBLE)
             / CAST(m + n AS DOUBLE), 6) AS rouge_f1
FROM {prev}""")


QUERIES.update({
    "rouge_lcs_pairs": (q_rouge_lcs, _oracle_rouge()),
})


# --- rrf_fusion: reciprocal-rank fusion of two retrieval rankings -------------
#
# The hybrid-search combiner (Cormack et al. 2009; what vector+BM25
# search stacks actually ship): RRF(d) = sum over rankings of
# 1/(K + rank_d).  Two corpus rankings (by doc length in chars, and by
# token count — stand-ins for the dense and sparse scorers) fuse under
# the classic K = 60; each reciprocal is quantized floor(Q/(K + rank))
# BEFORE the sum — exact int64, engine-independent.  Ranks carry a
# total-order tiebreak (doc_id).  Top 10 by (score desc, doc_id).  Both
# rank windows run over the per-doc aggregate, not raw tokens; at corpus
# scale the single-task global sort would move to the two-phase
# histogram rank (the outlier_audit lesson), documented not built.

RRF_K = 60
RRF_Q = 1_000_000


def q_rrf_fusion(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "n_chars",
        "size(split(text, ' ')) AS n_tokens")
    w1 = W.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    w2 = W.orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    r = (d.withColumn("r1", F.row_number().over(w1))
         .withColumn("r2", F.row_number().over(w2)))
    return (r.selectExpr(
        "doc_id", "r1", "r2",
        f"({RRF_Q} DIV ({RRF_K} + r1)) + ({RRF_Q} DIV ({RRF_K} + r2))"
        " AS rrf_q")
        .orderBy(F.desc("rrf_q"), F.asc("doc_id"))
        .limit(10)
        .selectExpr("doc_id", "CAST(r1 AS BIGINT) AS r1",
                    "CAST(r2 AS BIGINT) AS r2",
                    "CAST(rrf_q AS BIGINT) AS rrf_q"))


ORACLE_RRF = f"""
WITH d AS (
  SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_tokens
  FROM documents),
r AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r1,
         ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS r2
  FROM d)
SELECT doc_id, CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2,
       CAST(({RRF_Q} // ({RRF_K} + r1)) + ({RRF_Q} // ({RRF_K} + r2))
            AS BIGINT) AS rrf_q
FROM r
ORDER BY rrf_q DESC, doc_id
LIMIT 10
"""


# --- business_day_lag: calendar-aware business-day spans ----------------------
#
# The fintech/SLA staple: business days (Mon-Fri) between two dates —
# computed with PURE epoch-day integer arithmetic, never an engine
# date_part (engine week-start conventions differ; the seasonality_
# profile lesson): with w = epoch_day + 3 (so w % 7 == 0 is a Monday),
# f(w) = 5*(w//7) + LEAST(w % 7, 5) counts business days since the
# anchor, and bd[d1, d2) = f(w2) - f(w1) — a closed form, no calendar
# table, correct across any span.  Gated: per event_type, the span in
# business days between each user's first event and each event (window
# min + closed form), aggregated.

BD_F = ("(5 * ((({d}) + 3) DIV 7) + LEAST((({d}) + 3) % 7, 5))")


def q_business_day_lag(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    ed = ("CAST(FLOOR(CAST(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) "
          "AS DOUBLE) / 86400000000.0) AS BIGINT)")
    d = e.selectExpr("event_id", "user_id", "event_type",
                     f"{ed} AS ed")
    w = W.partitionBy("user_id")
    d = d.withColumn("ed0", F.min("ed").over(w))
    f2 = BD_F.format(d="ed")
    f1 = BD_F.format(d="ed0")
    return (d.selectExpr("event_type", f"({f2}) - ({f1}) AS bd")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("bd").alias("sum_bd"),
                 F.max("bd").alias("max_bd"))
            .selectExpr("event_type", "CAST(n AS BIGINT) AS n",
                        "CAST(sum_bd AS BIGINT) AS sum_bd",
                        "CAST(max_bd AS BIGINT) AS max_bd"))


def _oracle_bd() -> str:
    ed = "CAST(FLOOR(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0) AS BIGINT)"
    f2 = BD_F.format(d="ed").replace(" DIV ", " // ")
    f1 = BD_F.format(d="ed0").replace(" DIV ", " // ")
    return f"""
WITH d AS (
  SELECT event_id, user_id, event_type, {ed} AS ed FROM events),
m AS (
  SELECT event_type, ed, MIN(ed) OVER (PARTITION BY user_id) AS ed0
  FROM d)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(({f2}) - ({f1})) AS BIGINT) AS sum_bd,
       CAST(MAX(({f2}) - ({f1})) AS BIGINT) AS max_bd
FROM m GROUP BY event_type
"""


# --- geodesic_waypoints: great-circle slerp densification ---------------------
#
# The navigation/flight-path primitive (the SPHERICAL sibling of the
# planar integer trajectory_densify): between consecutive events of a
# user cohort, emit intermediate points at f = 1/4, 1/2, 3/4 along the
# great circle via spherical linear interpolation — A = sin((1-f)δ)/sinδ,
# B = sin(fδ)/sinδ on the unit-vector chord (the standard aviation
# formulary form).  The float pipeline is STAGED identically in both
# engines (the CRS-oracle discipline) and lands in ROUND(...,6) outputs;
# coincident endpoints (sinδ = 0) are excluded by an integer-exact
# µdeg-coordinate predicate, never a float threshold.

WAYPOINT_MOD = 20     # user cohort knob


def q_geodesic_waypoints(spark, sf_dir):
    from . import fixtures
    e = _t(spark, sf_dir, "events")
    lon, lat = fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL
    pts = (e.where(F.col("user_id") % WAYPOINT_MOD == 0)
           .selectExpr("user_id", "ts", "event_id",
                       f"{lon} AS lon", f"{lat} AS lat",
                       f"CAST(FLOOR({lon} * 1000000.0) AS BIGINT) AS ilon",
                       f"CAST(FLOOR({lat} * 1000000.0) AS BIGINT) AS ilat"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (pts.selectExpr("user_id", "ts", "event_id", "lon", "lat",
                          "ilon", "ilat")
           .withColumn("lon2", F.lead("lon").over(w))
           .withColumn("lat2", F.lead("lat").over(w))
           .withColumn("ilon2", F.lead("ilon").over(w))
           .withColumn("ilat2", F.lead("ilat").over(w))
           .withColumn("seg_idx", F.row_number().over(w))
           .where("lon2 IS NOT NULL AND (ilon != ilon2 OR ilat != ilat2)"))
    mids = seg.selectExpr("user_id", "seg_idx", "lon", "lat", "lon2",
                          "lat2") \
        .join(F.broadcast(
            seg.sparkSession.range(1, 4).selectExpr("id AS j")))
    st = mids.selectExpr(
        "user_id", "seg_idx", "j",
        "RADIANS(lon) AS l1", "RADIANS(lat) AS p1",
        "RADIANS(lon2) AS l2", "RADIANS(lat2) AS p2",
        "CAST(j AS DOUBLE) / 4.0 AS f")
    st = st.selectExpr(
        "*",
        "2.0 * ASIN(SQRT(POW(SIN((p2 - p1) / 2.0), 2.0) + COS(p1) * COS(p2)"
        " * POW(SIN((l2 - l1) / 2.0), 2.0))) AS delta")
    st = st.selectExpr(
        "*",
        "SIN((1.0 - f) * delta) / SIN(delta) AS a",
        "SIN(f * delta) / SIN(delta) AS b")
    st = st.selectExpr(
        "user_id", "seg_idx", "j",
        "a * COS(p1) * COS(l1) + b * COS(p2) * COS(l2) AS x",
        "a * COS(p1) * SIN(l1) + b * COS(p2) * SIN(l2) AS y",
        "a * SIN(p1) + b * SIN(p2) AS z")
    return st.selectExpr(
        "user_id", "seg_idx", "CAST(j AS INT) AS j",
        "ROUND(DEGREES(ATAN2(y, x)), 6) AS mid_lon",
        "ROUND(DEGREES(ATAN2(z, SQRT(x * x + y * y))), 6) AS mid_lat")


def _oracle_waypoints() -> str:
    from . import fixtures
    lon, lat = fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL
    return f"""
WITH pts AS (
  SELECT user_id, ts, event_id, {lon} AS lon, {lat} AS lat,
         CAST(FLOOR({lon} * 1000000.0) AS BIGINT) AS ilon,
         CAST(FLOOR({lat} * 1000000.0) AS BIGINT) AS ilat
  FROM events WHERE user_id % {WAYPOINT_MOD} = 0),
seg AS (
  SELECT user_id, lon, lat, ilon, ilat,
         LEAD(lon) OVER w AS lon2, LEAD(lat) OVER w AS lat2,
         LEAD(ilon) OVER w AS ilon2, LEAD(ilat) OVER w AS ilat2,
         ROW_NUMBER() OVER w AS seg_idx
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
mids AS (
  SELECT user_id, seg_idx, lon, lat, lon2, lat2, jj.j
  FROM seg, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, 3)) AS j) jj
  WHERE lon2 IS NOT NULL AND (ilon != ilon2 OR ilat != ilat2)),
s1 AS (
  SELECT user_id, seg_idx, j,
         RADIANS(lon) AS l1, RADIANS(lat) AS p1,
         RADIANS(lon2) AS l2, RADIANS(lat2) AS p2,
         CAST(j AS DOUBLE) / 4.0 AS f
  FROM mids),
s2 AS (
  SELECT *, 2.0 * ASIN(SQRT(POW(SIN((p2 - p1) / 2.0), 2.0)
           + COS(p1) * COS(p2) * POW(SIN((l2 - l1) / 2.0), 2.0))) AS delta
  FROM s1),
s3 AS (
  SELECT *, SIN((1.0 - f) * delta) / SIN(delta) AS a,
         SIN(f * delta) / SIN(delta) AS b
  FROM s2),
s4 AS (
  SELECT user_id, seg_idx, j,
         a * COS(p1) * COS(l1) + b * COS(p2) * COS(l2) AS x,
         a * COS(p1) * SIN(l1) + b * COS(p2) * SIN(l2) AS y,
         a * SIN(p1) + b * SIN(p2) AS z
  FROM s3)
SELECT user_id, seg_idx, CAST(j AS INT) AS j,
       ROUND(DEGREES(ATAN2(y, x)), 6) AS mid_lon,
       ROUND(DEGREES(ATAN2(z, SQRT(x * x + y * y))), 6) AS mid_lat
FROM s4
"""


QUERIES.update({
    "rrf_fusion": (q_rrf_fusion, ORACLE_RRF),
    "business_day_lag": (q_business_day_lag, _oracle_bd()),
    "geodesic_waypoints": (q_geodesic_waypoints, _oracle_waypoints()),
})


# --- unigram_lm_round: one EM round of unigram-LM tokenizer training ----------
#
# The OTHER tokenizer-training algorithm (Kudo 2018 — SentencePiece's
# default; BPE's sibling, whose merge loop bpe_learn_merges already
# covers): seed a piece inventory with corpus-weighted substring counts,
# score pieces by ln(count/total) quantized to integer micro-nats
# (FLOOR(x*1e6 + 0.5) — explicit half-up, identical in both dialects),
# E-step = Viterbi-best segmentation of every word under those scores,
# M-step = corpus-weighted piece usage counts from the best paths.
#
# Scale shape: the ONLY corpus-scale pass is the word histogram (one
# shuffle) — exactly how real trainers fold the corpus before EM.  The
# Viterbi DP runs over the DISTINCT-WORD table (31 rows here; bounded by
# vocabulary, not corpus) as staged codegen projections: 8 forward
# stages (word positions) + 8 backtrack stages, ties resolved
# prefer-longer-piece at each cell so the argmax is engine-deterministic.
# The oracle replays the identical stages as chained CTEs.

UNI_WLEN = 8      # max word length in the corpus vocabulary
UNI_PLEN = 3      # max piece length
UNI_SENT = -(10 ** 15)   # unreachable-candidate sentinel


def _uni_forward_stages() -> list:
    """Viterbi forward stages over q_i_l score columns (i = 0-based piece
    start, l = piece length; NULL when out of range): b_pos = best score
    of the first pos chars, c_pos = length of the winning last piece
    (ties prefer the LONGER piece — fewer pieces, fixed CASE order)."""
    stages = [[("b_0", "(0)")]]
    for pos in range(1, UNI_WLEN + 1):
        cand = {}
        for l in range(1, UNI_PLEN + 1):
            if pos - l < 0:
                continue
            cand[l] = (f"(b_{pos - l} + COALESCE(q_{pos - l}_{l}, "
                       f"{UNI_SENT}))")
        st = [(f"k{pos}_{l}", e) for l, e in cand.items()]
        ls = sorted(cand, reverse=True)   # longer piece wins ties
        cases, best = [], []
        for idx, l in enumerate(ls):
            others = [f"k{pos}_{l} >= k{pos}_{m}" for m in ls[idx + 1:]]
            cond = " AND ".join(others) if others else "TRUE"
            cases.append(f"WHEN {cond} THEN {l}")
            best.append(f"WHEN {cond} THEN k{pos}_{l}")
        stages.append(st)
        stages.append([
            (f"c_{pos}", "(CASE " + " ".join(cases) + " END)"),
            (f"b_{pos}", "(CASE " + " ".join(best) + " END)"),
        ])
    return stages


def _uni_backtrack_stages() -> list:
    """Backtrack stages: walk c_pos from pos = len down, emitting up to
    UNI_WLEN pieces (NULL once the walk reaches position 0)."""
    pick_c = ("(CASE p_{prev} " + " ".join(
        f"WHEN {pos} THEN c_{pos}" for pos in range(1, UNI_WLEN + 1))
        + " ELSE NULL END)")
    stages = [[("p_0", "(len)")]]
    for s in range(1, UNI_WLEN + 1):
        stages.append([(f"l_{s}", pick_c.format(prev=s - 1))])
        stages.append([
            (f"piece_{s}",
             f"(CASE WHEN l_{s} IS NULL THEN NULL "
             f"ELSE SUBSTR(w, p_{s - 1} - l_{s} + 1, l_{s}) END)"),
            (f"p_{s}",
             f"(CASE WHEN l_{s} IS NULL THEN 0 ELSE p_{s - 1} - l_{s} "
             f"END)"),
        ])
    return stages


def _uni_pivot_exprs() -> list:
    """(alias, agg expr) for the per-word q_i_l score pivot."""
    out = []
    for i in range(UNI_WLEN):
        for l in range(1, UNI_PLEN + 1):
            if i + l > UNI_WLEN:
                continue
            out.append((f"q_{i}_{l}",
                        f"MAX(CASE WHEN i = {i} AND l = {l} THEN q END)"))
    return out


UNI_Q_EXPR = ("CAST(FLOOR(LN(CAST(seed AS DOUBLE) / CAST(t AS DOUBLE)) "
              "* 1000000.0 + 0.5) AS BIGINT)")


def q_unigram_lm_round(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.selectExpr("explode(split(text, ' ')) AS w")
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))

    grid_i = spark.range(0, UNI_WLEN).selectExpr("id AS i")
    grid_l = spark.range(1, UNI_PLEN + 1).selectExpr("id AS l")
    occ = (wc.selectExpr("w", "LENGTH(w) AS len", "cnt")
           .join(F.broadcast(grid_i)).join(F.broadcast(grid_l))
           .where("i + l <= len")
           .selectExpr("w", "len", "i", "l", "cnt",
                       "SUBSTR(w, i + 1, l) AS p"))
    pieces = occ.groupBy("p").agg(F.sum("cnt").alias("seed"))
    tot = pieces.agg(F.sum("seed").alias("t"))
    ps = (pieces.join(F.broadcast(tot))
          .selectExpr("p", "seed", f"{UNI_Q_EXPR} AS q"))

    piv = (occ.join(F.broadcast(ps.select("p", "q")), "p")
           .groupBy("w", "len")
           .agg(*[F.expr(e).alias(al) for al, e in _uni_pivot_exprs()]))
    dp = piv
    for st in _uni_forward_stages() + _uni_backtrack_stages():
        dp = dp.selectExpr("*", *[f"{e} AS {al}" for al, e in st])
    seg = (dp.selectExpr(
        "w",
        "explode(array(" + ", ".join(
            f"piece_{s}" for s in range(1, UNI_WLEN + 1)) + ")) AS p")
        .where("p IS NOT NULL"))
    m = (seg.join(F.broadcast(wc), "w")
         .groupBy("p")
         .agg(F.sum("cnt").alias("new_count"),
              F.countDistinct("w").alias("n_words")))
    return (m.join(ps.select("p", "seed"), "p")
            .selectExpr("p AS piece", "CAST(seed AS BIGINT) AS seed_count",
                        "CAST(new_count AS BIGINT) AS new_count",
                        "CAST(n_words AS BIGINT) AS n_words"))


def _oracle_unigram() -> str:
    piv = ",\n         ".join(f"{e} AS {al}"
                              for al, e in _uni_pivot_exprs())
    ctes = [f"""
wc AS MATERIALIZED (
  SELECT w, COUNT(*) AS cnt
  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w),
occ AS MATERIALIZED (
  SELECT w, LEN(w) AS len, gi.i, gl.l, cnt, SUBSTR(w, gi.i + 1, gl.l) AS p
  FROM wc,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {UNI_WLEN - 1})) AS i) gi,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, {UNI_PLEN})) AS l) gl
  WHERE gi.i + gl.l <= LEN(w)),
pieces AS MATERIALIZED (SELECT p, SUM(cnt) AS seed FROM occ GROUP BY p),
tot AS (SELECT SUM(seed) AS t FROM pieces),
ps AS MATERIALIZED (
  SELECT p, seed, {UNI_Q_EXPR} AS q FROM pieces, tot),
piv AS MATERIALIZED (
  SELECT o.w, o.len,
         {piv}
  FROM (SELECT occ.*, ps.q FROM occ JOIN ps USING (p)) o
  GROUP BY o.w, o.len)"""]
    prev = "piv"
    for k, st in enumerate(_uni_forward_stages()
                           + _uni_backtrack_stages(), start=1):
        cols = ", ".join(f"{e} AS {al}" for al, e in st)
        ctes.append(f"t{k} AS (SELECT *, {cols} FROM {prev})")
        prev = f"t{k}"
    plist = ", ".join(f"piece_{s}" for s in range(1, UNI_WLEN + 1))
    ctes.append(f"""
seg AS (
  SELECT w, UNNEST([{plist}]) AS p FROM {prev}),
m AS (
  SELECT s.p, SUM(c.cnt) AS new_count, COUNT(DISTINCT s.w) AS n_words
  FROM seg s JOIN wc c USING (w)
  WHERE s.p IS NOT NULL
  GROUP BY s.p)""")
    return ("WITH " + ",".join(ctes) + """
SELECT m.p AS piece, CAST(ps.seed AS BIGINT) AS seed_count,
       CAST(m.new_count AS BIGINT) AS new_count,
       CAST(m.n_words AS BIGINT) AS n_words
FROM m JOIN ps ON m.p = ps.p""")


QUERIES.update({
    "unigram_lm_round": (q_unigram_lm_round, _oracle_unigram()),
})


# --- randomized_response: Warner's local-DP mechanism ------------------------
#
# The LOCAL differential-privacy sibling of dp_noisy_counts' central
# discrete Laplace (completing the privacy family's fourth mechanism
# class next to k_anonymity / l_diversity / t_closeness): each event
# locally reports its sensitive bit y ("is a purchase") truthfully with
# probability 1/2, else a uniform coin — eps = ln 3.  Randomness is
# DERANDOMIZED from the repo hash (u = mix(event_id) % 4: u < 2 report
# truth, else coin u % 2) by pure integer comparisons, so the release is
# bit-exact on any engine — the dp_noisy_counts lesson, no transcendental
# ops anywhere.  The unbiased count estimate 2*ones - n/2 is carried
# DOUBLED (est2 = 4*ones - n) to stay integer.  Per-day release; truth
# kept alongside for the gate (a real release would drop it).

def q_randomized_response(spark, sf_dir):
    from .hashing import mix_sql
    e = _t(spark, sf_dir, "events")
    u = mix_sql("event_id")
    d = e.selectExpr(
        "CAST(FLOOR(CAST(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS DOUBLE)"
        " / 86400000000.0) AS BIGINT) AS day",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y",
        f"({u}) % 4 AS u")
    rep = d.selectExpr(
        "day", "y",
        "CASE WHEN u < 2 THEN y ELSE u % 2 END AS r")
    return (rep.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("r").alias("ones"),
                 F.sum("y").alias("truth"))
            .selectExpr("day", "CAST(n AS BIGINT) AS n",
                        "CAST(ones AS BIGINT) AS ones",
                        "CAST(4 * ones - n AS BIGINT) AS est2",
                        "CAST(truth AS BIGINT) AS truth"))


def _oracle_rr() -> str:
    from .hashing import mix_sql
    u = mix_sql("event_id")
    return f"""
WITH d AS (
  SELECT CAST(FLOOR(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
              AS BIGINT) AS day,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         ({u}) % 4 AS u
  FROM events),
rep AS (
  SELECT day, y, CASE WHEN u < 2 THEN y ELSE u % 2 END AS r FROM d)
SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(r) AS BIGINT) AS ones,
       CAST(4 * SUM(r) - COUNT(*) AS BIGINT) AS est2,
       CAST(SUM(y) AS BIGINT) AS truth
FROM rep GROUP BY day
"""


# --- url_canonicalize: canonical-URL dedup keying -----------------------------
#
# The pretraining-crawl curation step BEFORE content dedup: collapse URL
# variants (case-mixed scheme/host, default :443 port, tracking params,
# index.html suffixes) to one canonical key.  Four raw variants per
# logical page are synthesized from doc_id formulas; canonicalization
# lowercases scheme+host, strips the default port, rewrites
# /index.html -> /, drops utm_* and keeps (id, ref) in a fixed order.
# Dialect discipline: regexp_extract ONLY (single-match semantics agree
# across engines) — regexp_replace is avoided because Spark replaces ALL
# occurrences while DuckDB replaces the FIRST without the 'g' flag (a
# real cross-engine trap, documented here); bracket-class regexes per
# the pii_scrub backslash rule.  One SQL text runs on BOTH engines (the
# url_domain_stats trick).  Gated: per-canonical-URL group sizes +
# doc-id checksum — the planted 2+2 variant structure must collapse.

_URLC_SUBS = ("www", "blog", "docs", "shop")
_URLC_DOMS = ("sparkdata", "lakehouse", "geotile", "mapjoin")
_URLC_TLDS = ("com", "io", "org")


def _urlc_case(key: str, salt: int, vals: tuple) -> str:
    from .hashing import mix_sql
    h = mix_sql(f"({key}) * 7 + {salt}")
    arms = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(vals))
    return f"(CASE ({h}) % {len(vals)} {arms} END)"


def _urlc_sql(div: str = "//") -> str:
    lid = f"(doc_id {div} 4)"
    v = "(doc_id % 4)"
    sub = _urlc_case(lid, 1, _URLC_SUBS)
    dom = _urlc_case(lid, 2, _URLC_DOMS)
    tld = _urlc_case(lid, 3, _URLC_TLDS)
    return f"""
WITH raw AS (
  SELECT doc_id,
         (CASE WHEN {v} = 1 THEN 'HTTPS' ELSE 'https' END) || '://'
         || (CASE WHEN {v} % 2 = 0 THEN {sub}
                  ELSE UPPER({sub}) END) || '.'
         || {dom} || '.' || {tld}
         || (CASE WHEN {v} = 1 THEN ':443' ELSE '' END)
         || '/p/' || CAST({lid} AS BIGINT)
         || (CASE WHEN {v} = 2 THEN '/index.html' ELSE '/' END)
         || (CASE WHEN {v} = 0 THEN '?ref=home&id=' || CAST({lid} AS BIGINT)
                  WHEN {v} = 1 THEN '?id=' || CAST({lid} AS BIGINT)
                                   || '&ref=home'
                  WHEN {v} = 3 THEN '?utm_source=feed&id='
                                   || CAST({lid} AS BIGINT)
                                   || '&utm_campaign=x'
                  ELSE '?id=' || CAST({lid} AS BIGINT) END) AS url
  FROM documents),
parts AS (
  SELECT doc_id, url,
         LOWER(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
         LOWER(regexp_extract(url, '^[a-zA-Z]+://([^/?:]+)', 1)) AS host,
         regexp_extract(url, '^[a-zA-Z]+://[^/?]+(/[^?]*)', 1) AS path,
         regexp_extract(url, '[?&]id=([0-9]+)', 1) AS pid,
         regexp_extract(url, '[?&]ref=([a-z]+)', 1) AS pref
  FROM raw),
canon AS (
  SELECT doc_id,
         scheme || '://' || host
         || (CASE WHEN regexp_extract(path, '(/index[.]html)$', 1)
                       = '/index.html'
                  THEN regexp_extract(path, '^(.*)/index[.]html$', 1)
                       || '/'
                  ELSE path END)
         || '?id=' || pid
         || (CASE WHEN pref = '' THEN '' ELSE '&ref=' || pref END)
           AS curl
  FROM parts)
SELECT curl AS canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc
FROM canon GROUP BY curl
"""


def q_url_canonicalize(spark, sf_dir):
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_urlc_sql(div="DIV"))


QUERIES.update({
    "randomized_response": (q_randomized_response, _oracle_rr()),
    "url_canonicalize": (q_url_canonicalize, _urlc_sql()),
})


# --- elias_gamma_postings: inverted-index compression estimate ----------------
#
# The storage-efficiency audit of a search index (the postings sibling
# of image_rle_runs/cdc_chunking): per term, delta-encode the sorted
# posting list and cost each gap under Elias gamma — bits(g) =
# 2*floor(log2 g) + 1, with floor(log2 g) = LENGTH(bin(g)) - 1 (both
# engines render minimal binary strings; verified, not assumed).  All
# exact integers; the compression ratio vs fixed 32-bit postings is the
# one-literal float division.  Scale shape: one distinct shuffle + one
# term-keyed window — posting lists are per-term sequential in real
# index builds too.

def q_elias_gamma_postings(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    post = (d.selectExpr("doc_id", "explode(split(text, ' ')) AS term")
            .distinct())
    w = W.partitionBy("term").orderBy("doc_id")
    g = (post.withColumn("prev", F.lag("doc_id").over(w))
         .selectExpr("term",
                     "doc_id - COALESCE(prev, -1) AS gap"))
    bits = "2 * (LENGTH(bin(gap)) - 1) + 1"
    return (g.groupBy("term")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.expr(bits)).alias("gamma_bits"))
            .selectExpr(
                "term", "CAST(n_docs AS BIGINT) AS n_docs",
                "CAST(gamma_bits AS BIGINT) AS gamma_bits",
                "CAST(32 * n_docs AS BIGINT) AS fixed_bits",
                "ROUND(CAST(gamma_bits AS DOUBLE) / "
                "CAST(32 * n_docs AS DOUBLE), 6) AS ratio"))


ORACLE_GAMMA = """
WITH post AS (
  SELECT DISTINCT doc_id, term
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        FROM documents)),
g AS (
  SELECT term,
         doc_id - COALESCE(LAG(doc_id) OVER (PARTITION BY term
                                             ORDER BY doc_id), -1) AS gap
  FROM post)
SELECT term, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(2 * (LENGTH(bin(gap)) - 1) + 1) AS BIGINT) AS gamma_bits,
       CAST(32 * COUNT(*) AS BIGINT) AS fixed_bits,
       ROUND(CAST(SUM(2 * (LENGTH(bin(gap)) - 1) + 1) AS DOUBLE)
             / CAST(32 * COUNT(*) AS DOUBLE), 6) AS ratio
FROM g GROUP BY term
"""


# --- feistel_pseudonymize: format-preserving id pseudonymization --------------
#
# The GDPR-engineering staple the privacy family still lacked: a
# DETERMINISTIC, INVERTIBLE, format-preserving pseudonym for 32-bit ids
# via a 2-round Feistel network over 16-bit halves, round function =
# the repo hash — a bijection on [0, 2^32) by construction (Feistel
# networks are invertible for ANY round function), so joins still work
# on the pseudonym and re-identification needs the key.  Dialect trap
# documented: Spark's ^ is bitwise XOR but DuckDB's ^ is POWER — the
# XOR is emitted per dialect (Spark `a ^ b`, DuckDB `xor(a, b)`).
# Gated: per-bucket counts, pseudonym sums, and per-bucket
# injectivity (n_distinct = n).

FEISTEL_SALTS = (101, 202)


def _feistel_sql(key: str, xor_fmt: str) -> str:
    from .hashing import mix_sql
    l, r = f"(({key}) DIV 65536 % 65536)", f"(({key}) % 65536)"
    for salt in FEISTEL_SALTS:
        f = f"(({mix_sql(f'({r}) * 65537 + {salt}')}) % 65536)"
        l, r = r, xor_fmt.format(a=l, b=f)
    return f"(({l}) * 65536 + ({r}))"


def q_feistel_pseudonymize(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    pid = _feistel_sql("c_custkey % 4294967296", "({a}) ^ ({b})")
    d = c.selectExpr("c_custkey", f"{pid} AS pid")
    return (d.groupBy((F.col("pid") % 16).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("pid").alias("n_distinct"),
                 F.sum("pid").alias("sum_pid"),
                 F.min("pid").alias("min_pid"))
            .selectExpr("CAST(bucket AS BIGINT) AS bucket",
                        "CAST(n AS BIGINT) AS n",
                        "CAST(n_distinct AS BIGINT) AS n_distinct",
                        "CAST(sum_pid AS BIGINT) AS sum_pid",
                        "CAST(min_pid AS BIGINT) AS min_pid"))


def _oracle_feistel() -> str:
    pid = _feistel_sql("c_custkey % 4294967296", "xor({a}, {b})")
    pid = pid.replace(" DIV ", " // ")
    return f"""
WITH d AS (SELECT c_custkey, {pid} AS pid FROM customer)
SELECT CAST(pid % 16 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_distinct,
       CAST(SUM(pid) AS BIGINT) AS sum_pid,
       CAST(MIN(pid) AS BIGINT) AS min_pid
FROM d GROUP BY 1
"""


QUERIES.update({
    "elias_gamma_postings": (q_elias_gamma_postings, ORACLE_GAMMA),
    "feistel_pseudonymize": (q_feistel_pseudonymize, _oracle_feistel()),
})


# --- matrix_profile_hourly: motif/discord discovery on the hourly series ------
#
# The SCAMP/STOMP time-series-mining primitive (matrix profile): for
# every length-4 window of the dense hourly purchase-count series, the
# minimum squared distance to any NON-OVERLAPPING window (exclusion
# zone |i-j| >= 4) and the position achieving it — small profile values
# are motifs, large ones discords.  All exact ints (counts, squared
# diffs).  Scale shape: the corpus is folded to the hourly series ONCE
# (map-side-combined groupBy); the all-pairs join runs on the
# SERIES-bounded window table (span hours, corpus-independent), and the
# argmin is recovered by a dist = mind join-back, never a float-packed
# key (the squared magnitudes would overflow a packed argmin).

MP_W = 4


def q_matrix_profile(spark, sf_dir):
    e = (_t(spark, sf_dir, "events").where("event_type = 'purchase'")
         .selectExpr("CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) "
                     "/ 3600000000) AS BIGINT) AS h"))
    counts = e.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    span = counts.groupBy().agg(F.min("h").alias("h0"),
                                F.max("h").alias("h1"))
    spine = (span.selectExpr("explode(sequence(h0, h1)) AS h")
             .join(counts, "h", "left")
             .join(F.broadcast(span))
             .selectExpr("h - h0 AS i",
                         "COALESCE(c, CAST(0 AS BIGINT)) AS c"))
    w = W.orderBy("i")
    win = spine.select(
        "i", F.col("c").alias("v0"),
        F.lead("c", 1).over(w).alias("v1"),
        F.lead("c", 2).over(w).alias("v2"),
        F.lead("c", 3).over(w).alias("v3")).where("v3 IS NOT NULL")
    win = win.localCheckpoint()
    b = win.selectExpr("i AS j", "v0 AS w0", "v1 AS w1", "v2 AS w2",
                       "v3 AS w3")
    dist = " + ".join(f"(v{k} - w{k}) * (v{k} - w{k})" for k in range(MP_W))
    pairs = (win.join(F.broadcast(b),
                      F.expr(f"abs(i - j) >= {MP_W}"))
             .selectExpr("i", "j", f"{dist} AS d"))
    prof = pairs.groupBy("i").agg(F.min("d").alias("mind"))
    arg = (pairs.join(prof, "i").where("d = mind")
           .groupBy("i", "mind").agg(F.min("j").alias("match_j")))
    return arg.selectExpr("CAST(i AS BIGINT) AS i",
                          "CAST(mind AS BIGINT) AS mind",
                          "CAST(match_j AS BIGINT) AS match_j")


def _oracle_matrix_profile() -> str:
    dist = " + ".join(f"(a.v{k} - b.v{k}) * (a.v{k} - b.v{k})"
                      for k in range(MP_W))
    return f"""
WITH e AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h
  FROM events WHERE event_type = 'purchase'),
counts AS (SELECT h, COUNT(*) AS c FROM e GROUP BY h),
span AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM counts),
spine AS (
  SELECT g.h - span.h0 AS i, COALESCE(c.c, 0) AS c
  FROM span, LATERAL (SELECT UNNEST(GENERATE_SERIES(span.h0, span.h1))
                      AS h) g
  LEFT JOIN counts c ON c.h = g.h),
win AS MATERIALIZED (
  SELECT i, c AS v0,
         LEAD(c, 1) OVER (ORDER BY i) AS v1,
         LEAD(c, 2) OVER (ORDER BY i) AS v2,
         LEAD(c, 3) OVER (ORDER BY i) AS v3
  FROM spine QUALIFY v3 IS NOT NULL),
pairs AS MATERIALIZED (
  SELECT a.i, b.i AS j, {dist} AS d
  FROM win a JOIN win b ON ABS(a.i - b.i) >= {MP_W}),
prof AS (SELECT i, MIN(d) AS mind FROM pairs GROUP BY i)
SELECT CAST(p.i AS BIGINT) AS i, CAST(p.mind AS BIGINT) AS mind,
       CAST(MIN(pr.j) AS BIGINT) AS match_j
FROM prof p JOIN pairs pr ON pr.i = p.i AND pr.d = p.mind
GROUP BY p.i, p.mind
"""


# --- rhumb_lines: loxodrome bearing + distance per trajectory segment ---------
#
# The navigation pair to the great-circle family (haversine
# trajectory_stats, slerp geodesic_waypoints): a rhumb line crosses
# every meridian at the SAME bearing — what a compass-steered vessel
# actually sails.  Bearing = atan2(Δlon_wrapped, Δψ) on the Mercator
# latitude ψ = ln tan(π/4 + φ/2); distance via q = Δφ/Δψ (exact-equal
# latitudes — an INTEGER µdeg predicate, never a float threshold —
# degenerate to q = cos φ).  Same staged-trig discipline as the
# CRS oracles; ROUND(...,6) terminal outputs.

def q_rhumb_lines(spark, sf_dir):
    from . import fixtures
    e = _t(spark, sf_dir, "events")
    lon, lat = fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL
    pts = (e.where(F.col("user_id") % WAYPOINT_MOD == 0)
           .selectExpr("user_id", "ts", "event_id",
                       f"{lon} AS lon", f"{lat} AS lat",
                       f"CAST(FLOOR({lat} * 1000000.0) AS BIGINT) AS ilat"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (pts.withColumn("lon2", F.lead("lon").over(w))
           .withColumn("lat2", F.lead("lat").over(w))
           .withColumn("ilat2", F.lead("ilat").over(w))
           .withColumn("seg_idx", F.row_number().over(w))
           .where("lon2 IS NOT NULL"))
    st = seg.selectExpr(
        "user_id", "seg_idx", "ilat", "ilat2",
        "RADIANS(lat) AS p1", "RADIANS(lat2) AS p2",
        "CASE WHEN lon2 - lon > 180.0 THEN lon2 - lon - 360.0 "
        "WHEN lon2 - lon < -180.0 THEN lon2 - lon + 360.0 "
        "ELSE lon2 - lon END AS dlw")
    st = st.selectExpr(
        "user_id", "seg_idx", "ilat", "ilat2", "p1", "p2",
        "RADIANS(dlw) AS dl",
        "LN(TAN(CAST(PI() AS DOUBLE) / 4.0 + p2 / 2.0)) "
        "- LN(TAN(CAST(PI() AS DOUBLE) / 4.0 + p1 / 2.0)) AS dpsi")
    st = st.selectExpr(
        "user_id", "seg_idx", "p1", "p2", "dl", "dpsi",
        "CASE WHEN ilat = ilat2 THEN COS(p1) ELSE (p2 - p1) / dpsi END"
        " AS q")
    return st.selectExpr(
        "user_id", "seg_idx",
        "ROUND(DEGREES(ATAN2(dl, dpsi)), 6) AS bearing",
        "ROUND(SQRT((p2 - p1) * (p2 - p1) + q * q * dl * dl) "
        "* 6371.0088, 6) AS dist_km")


def _oracle_rhumb() -> str:
    from . import fixtures
    lon, lat = fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL
    return f"""
WITH pts AS (
  SELECT user_id, ts, event_id, {lon} AS lon, {lat} AS lat,
         CAST(FLOOR({lat} * 1000000.0) AS BIGINT) AS ilat
  FROM events WHERE user_id % {WAYPOINT_MOD} = 0),
seg AS (
  SELECT user_id, lon, lat, ilat,
         LEAD(lon) OVER w AS lon2, LEAD(lat) OVER w AS lat2,
         LEAD(ilat) OVER w AS ilat2,
         ROW_NUMBER() OVER w AS seg_idx
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  QUALIFY lon2 IS NOT NULL),
s1 AS (
  SELECT user_id, seg_idx, ilat, ilat2,
         RADIANS(lat) AS p1, RADIANS(lat2) AS p2,
         CASE WHEN lon2 - lon > 180.0 THEN lon2 - lon - 360.0
              WHEN lon2 - lon < -180.0 THEN lon2 - lon + 360.0
              ELSE lon2 - lon END AS dlw
  FROM seg),
s2 AS (
  SELECT user_id, seg_idx, ilat, ilat2, p1, p2, RADIANS(dlw) AS dl,
         LN(TAN(CAST(PI() AS DOUBLE) / 4.0 + p2 / 2.0))
         - LN(TAN(CAST(PI() AS DOUBLE) / 4.0 + p1 / 2.0)) AS dpsi
  FROM s1),
s3 AS (
  SELECT user_id, seg_idx, p1, p2, dl, dpsi,
         CASE WHEN ilat = ilat2 THEN COS(p1)
              ELSE (p2 - p1) / dpsi END AS q
  FROM s2)
SELECT user_id, seg_idx,
       ROUND(DEGREES(ATAN2(dl, dpsi)), 6) AS bearing,
       ROUND(SQRT((p2 - p1) * (p2 - p1) + q * q * dl * dl)
             * 6371.0088, 6) AS dist_km
FROM s3
"""


QUERIES.update({
    "matrix_profile_hourly": (q_matrix_profile, _oracle_matrix_profile()),
    "rhumb_lines": (q_rhumb_lines, _oracle_rhumb()),
})


# --- temporal_reachability: time-respecting diffusion over contacts -----------
#
# The temporal-network primitive (epidemic / influence / information
# spread): users co-present in the same (level-4 cell, 6-hour window)
# form a CONTACT (a,b,t); a seed set is infected at its first
# appearance, and infection spreads along contacts whose time is >= the
# carrier's infection time — the time-respecting-path constraint that
# distinguishes temporal reachability from plain graph reachability
# (convoy_pairs mines the co-movement; this propagates over it).  Three
# rounds unrolled; per user the gate carries the FIRST ROUND infected
# and the BEST (minimal) infection window after all rounds — both exact
# integer mins.  Scale shape: one distinct pass to (user, cell, wnd),
# one (cell, wnd)-keyed self-join for contacts (checkpointed once),
# then three contact-keyed joins over the shrinking frontier.

TR_MOD = 11          # cohort knob
TR_SEED_MOD = 97     # seed density
TR_LEVEL = 4
TR_WND_US = 6 * 3600 * 1_000_000
TR_ROUNDS = 3


def _tr_presence_exprs():
    from . import cells, fixtures
    cell = cells.cell_sql(fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL,
                          TR_LEVEL)
    return cell


def q_temporal_reachability(spark, sf_dir):
    cell = _tr_presence_exprs()
    e = _t(spark, sf_dir, "events")
    pres = (e.where(F.col("user_id") % TR_MOD == 0)
            .selectExpr(
                "user_id",
                f"{cell} AS cell",
                "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) "
                f"/ {float(TR_WND_US)!r}) AS BIGINT) AS wnd")
            .distinct())
    pres = pres.localCheckpoint()
    b = pres.selectExpr("user_id AS u2", "cell", "wnd")
    contacts = (pres.join(b, ["cell", "wnd"])
                .where("user_id != u2")
                .selectExpr("user_id AS src", "u2 AS dst", "wnd AS t")
                .distinct()
                .localCheckpoint())
    inf = (pres.where(F.col("user_id") % TR_SEED_MOD == 0)
           .groupBy("user_id")
           .agg(F.min("wnd").alias("t0"))
           .selectExpr("user_id", "t0", "0 AS r"))
    for rnd in range(1, TR_ROUNDS + 1):
        cand = (contacts.join(
            inf.selectExpr("user_id AS src", "t0 AS st"), "src")
            .where("t >= st")
            .groupBy("dst").agg(F.min("t").alias("ct"))
            .selectExpr("dst AS user_id", "ct AS t0",
                        f"{rnd} AS r"))
        inf = (inf.unionByName(cand)
               .groupBy("user_id")
               .agg(F.min("r").alias("first_round"),
                    F.min("t0").alias("best_t"))
               .selectExpr("user_id", "best_t AS t0",
                           "first_round AS r")
               .localCheckpoint())
    return inf.selectExpr("user_id",
                          "CAST(r AS BIGINT) AS first_round",
                          "CAST(t0 AS BIGINT) AS best_wnd")


def _oracle_reachability() -> str:
    from . import cells, fixtures
    cell = cells.cell_sql(fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL,
                          TR_LEVEL)
    ctes = [f"""
pres AS MATERIALIZED (
  SELECT DISTINCT user_id, {cell} AS cell,
         CAST(FLOOR(epoch_us(ts) / {float(TR_WND_US)!r}) AS BIGINT) AS wnd
  FROM events WHERE user_id % {TR_MOD} = 0),
contacts AS MATERIALIZED (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst, a.wnd AS t
  FROM pres a JOIN pres b ON a.cell = b.cell AND a.wnd = b.wnd
  WHERE a.user_id != b.user_id),
inf0 AS MATERIALIZED (
  SELECT user_id, MIN(wnd) AS t0, 0 AS r
  FROM pres WHERE user_id % {TR_SEED_MOD} = 0 GROUP BY user_id)"""]
    prev = "inf0"
    for rnd in range(1, TR_ROUNDS + 1):
        ctes.append(f"""
cand{rnd} AS MATERIALIZED (
  SELECT c.dst AS user_id, MIN(c.t) AS t0, {rnd} AS r
  FROM contacts c JOIN {prev} i ON c.src = i.user_id AND c.t >= i.t0
  GROUP BY c.dst),
inf{rnd} AS MATERIALIZED (
  SELECT user_id, MIN(t0) AS t0, MIN(r) AS r
  FROM (SELECT * FROM {prev} UNION ALL SELECT * FROM cand{rnd})
  GROUP BY user_id)""")
        prev = f"inf{rnd}"
    return ("WITH " + ",".join(ctes) + f"""
SELECT user_id, CAST(r AS BIGINT) AS first_round,
       CAST(t0 AS BIGINT) AS best_wnd
FROM {prev}""")


QUERIES.update({
    "temporal_reachability": (q_temporal_reachability,
                              _oracle_reachability()),
})


# --- auction_clearing: single-price double-auction clearing -------------------
#
# The market-microstructure primitive (opening/closing auctions, ad
# exchanges): bids and asks aggregate into demand and supply curves,
# and the clearing price maximizes matched volume V(p) =
# min(demand(p), supply(p)) — derived RELATIONALLY: per price level,
# demand = cumulative bid quantity from the highest price down, supply
# = cumulative ask quantity from the lowest up, argmax by an exact
# integer packed key (volume, -price) — no iteration, no float.  Scale
# shape: one map-side-combined groupBy to price levels; the cumsum
# windows run over the LEVEL table (bounded by distinct prices), not
# the order stream.

def q_auction_clearing(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    sides = o.selectExpr(
        "CAST(FLOOR(o_totalprice / 100.0) AS BIGINT) AS price",
        "o_orderkey % 5 + 1 AS qty",
        "CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END AS is_bid")
    lv = (sides.groupBy("price")
          .agg(F.sum(F.expr("qty * is_bid")).alias("bid_qty"),
               F.sum(F.expr("qty * (1 - is_bid)")).alias("ask_qty")))
    cur = lv.selectExpr(
        "price", "bid_qty", "ask_qty",
        "SUM(bid_qty) OVER (ORDER BY price DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS demand",
        "SUM(ask_qty) OVER (ORDER BY price ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS supply")
    v = cur.selectExpr("price", "demand", "supply",
                       "LEAST(demand, supply) AS vol")
    best = v.groupBy().agg(
        F.max(F.expr("vol * 1000000 - price")).alias("k"))
    return (v.join(F.broadcast(best),
                   F.expr("vol * 1000000 - price = k"))
            .selectExpr("CAST(price AS BIGINT) AS clearing_price",
                        "CAST(vol AS BIGINT) AS volume",
                        "CAST(demand AS BIGINT) AS demand_at_p",
                        "CAST(supply AS BIGINT) AS supply_at_p"))


ORACLE_AUCTION = """
WITH sides AS (
  SELECT CAST(FLOOR(o_totalprice / 100.0) AS BIGINT) AS price,
         o_orderkey % 5 + 1 AS qty,
         CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END AS is_bid
  FROM orders),
lv AS (
  SELECT price, SUM(qty * is_bid) AS bid_qty,
         SUM(qty * (1 - is_bid)) AS ask_qty
  FROM sides GROUP BY price),
cur AS (
  SELECT price,
         SUM(bid_qty) OVER (ORDER BY price DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS demand,
         SUM(ask_qty) OVER (ORDER BY price ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS supply
  FROM lv),
v AS (SELECT price, demand, supply, LEAST(demand, supply) AS vol
      FROM cur),
best AS (SELECT MAX(vol * 1000000 - price) AS k FROM v)
SELECT CAST(price AS BIGINT) AS clearing_price,
       CAST(vol AS BIGINT) AS volume,
       CAST(demand AS BIGINT) AS demand_at_p,
       CAST(supply AS BIGINT) AS supply_at_p
FROM v JOIN best ON v.vol * 1000000 - v.price = best.k
"""


# --- cross_k_function: bivariate spatial association ----------------------------
#
# Ripley's CROSS-K (the bivariate extension of ripley_k_bands): does
# event type A (purchase) cluster AROUND type B (view), at Chebyshev
# radii 0.5/1/2 degrees?  One cell-ring equi-join at level 6 (cell
# width >= the largest band, so the 3x3 ring provably contains every
# qualifying cross pair — the knox_spacetime construction applied
# cross-type); per-band counts by conditional sums over ONE pair pass;
# K(d) = Area * n_pairs(d) / (nA * nB) is the one-literal float.

XK_BANDS = (0.5, 1.0, 2.0)
XK_CELL = 6
XK_A, XK_B = "purchase", "view"
XK_AREA = 360.0 * 170.0


def q_cross_k(spark, sf_dir):
    from . import cells, fixtures
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, XK_CELL)
    e = (_t(spark, sf_dir, "events")
         .selectExpr("event_id", "event_type",
                     f"{fixtures.EVENT_LON_SQL} AS lon",
                     f"{fixtures.EVENT_LAT_SQL} AS lat",
                     f"{ix} AS cx", f"{iy} AS cy")
         .where(f"event_type IN ('{XK_A}', '{XK_B}')")
         .localCheckpoint())
    a = (e.where(f"event_type = '{XK_A}'")
         .selectExpr("event_id AS a_id", "lon AS a_lon", "lat AS a_lat",
                     "explode(sequence(cx - 1, cx + 1)) AS jx", "cy AS acy"))
    a = a.selectExpr("a_id", "a_lon", "a_lat", "jx",
                     "explode(sequence(acy - 1, acy + 1)) AS jy")
    b = (e.where(f"event_type = '{XK_B}'")
         .selectExpr("event_id AS b_id", "lon", "lat", "cx AS jx",
                     "cy AS jy"))
    dmax = max(XK_BANDS)
    pairs = (a.join(b, ["jx", "jy"])
             .where(f"ABS(a_lon - lon) <= {dmax!r} AND "
                    f"ABS(a_lat - lat) <= {dmax!r}")
             .selectExpr("a_id", "b_id",
                         "GREATEST(ABS(a_lon - lon), ABS(a_lat - lat)) "
                         "AS cheb")
             .distinct())
    counts = pairs.groupBy().agg(
        *[F.sum(F.expr(f"CASE WHEN cheb <= {d!r} THEN 1 ELSE 0 END"))
          .alias(f"n_{i}") for i, d in enumerate(XK_BANDS)])
    na = e.where(f"event_type = '{XK_A}'").groupBy().agg(
        F.count(F.lit(1)).alias("na"))
    nb = e.where(f"event_type = '{XK_B}'").groupBy().agg(
        F.count(F.lit(1)).alias("nb"))
    base = counts.crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb))
    rows = []
    for i, d in enumerate(XK_BANDS):
        rows.append(base.selectExpr(
            f"CAST({d!r} AS DOUBLE) AS band",
            f"CAST(n_{i} AS BIGINT) AS n_pairs",
            "CAST(na AS BIGINT) AS n_a", "CAST(nb AS BIGINT) AS n_b",
            f"ROUND(CAST({XK_AREA!r} AS DOUBLE) * n_{i} "
            "/ (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS k_d"))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _oracle_cross_k() -> str:
    from . import cells, fixtures
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, XK_CELL)
    dmax = max(XK_BANDS)
    band_rows = " UNION ALL ".join(
        f"""SELECT CAST({d!r} AS DOUBLE) AS band,
       CAST(n_{i} AS BIGINT) AS n_pairs,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(CAST({XK_AREA!r} AS DOUBLE) * n_{i}
             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS k_d
FROM base""" for i, d in enumerate(XK_BANDS))
    csums = ", ".join(
        f"SUM(CASE WHEN cheb <= {d!r} THEN 1 ELSE 0 END) AS n_{i}"
        for i, d in enumerate(XK_BANDS))
    return f"""
WITH e AS MATERIALIZED (
  SELECT event_id, event_type, {fixtures.EVENT_LON_SQL} AS lon,
         {fixtures.EVENT_LAT_SQL} AS lat, {ix} AS cx, {iy} AS cy
  FROM events WHERE event_type IN ('{XK_A}', '{XK_B}')),
pairs AS (
  SELECT DISTINCT a.event_id AS a_id, b.event_id AS b_id,
         GREATEST(ABS(a.lon - b.lon), ABS(a.lat - b.lat)) AS cheb
  FROM e a JOIN e b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
   AND a.event_type = '{XK_A}' AND b.event_type = '{XK_B}'
  WHERE ABS(a.lon - b.lon) <= {dmax!r}
    AND ABS(a.lat - b.lat) <= {dmax!r}),
counts AS (SELECT {csums} FROM pairs),
na_t AS (SELECT COUNT(*) AS na FROM e WHERE event_type = '{XK_A}'),
nb_t AS (SELECT COUNT(*) AS nb FROM e WHERE event_type = '{XK_B}'),
base AS (SELECT * FROM counts, na_t, nb_t)
{band_rows}
"""


QUERIES.update({
    "auction_clearing": (q_auction_clearing, ORACLE_AUCTION),
    "cross_k_function": (q_cross_k, _oracle_cross_k()),
})


# --- impossible_travel: auth-security velocity anomaly ------------------------
#
# The account-compromise detector every auth/fraud stack runs: for
# consecutive events of a user, the implied travel speed (haversine
# distance over elapsed time); segments faster than a physical bound
# (900 km/h — airliner speed) are flagged.  The haversine is the SAME
# staged literal both engines run (the trajectory_stats discipline);
# zero-elapsed segments are excluded by an integer µs predicate, and
# the flag compare runs on identically-computed floats.  Output: the
# flagged segments with ROUND(...,6) diagnostics.

IT_SPEED_KMH = 900.0


def q_impossible_travel(spark, sf_dir):
    from . import fixtures
    e = _t(spark, sf_dir, "events")
    lon, lat = fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL
    pts = (e.where(F.col("user_id") % WAYPOINT_MOD == 0)
           .selectExpr("user_id", "ts", "event_id",
                       f"{lon} AS lon", f"{lat} AS lat",
                       "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (pts.withColumn("lon2", F.lead("lon").over(w))
           .withColumn("lat2", F.lead("lat").over(w))
           .withColumn("us2", F.lead("us").over(w))
           .withColumn("seg_idx", F.row_number().over(w))
           .where("lon2 IS NOT NULL AND us2 - us > 0"))
    st = seg.selectExpr(
        "user_id", "seg_idx", "us2 - us AS dt_us",
        "2.0 * 6371.0088 * ASIN(SQRT("
        "POW(SIN((RADIANS(lat2) - RADIANS(lat)) / 2.0), 2.0)"
        " + COS(RADIANS(lat)) * COS(RADIANS(lat2))"
        " * POW(SIN((RADIANS(lon2) - RADIANS(lon)) / 2.0), 2.0)))"
        " AS dist_km")
    st = st.selectExpr(
        "user_id", "seg_idx", "dt_us", "dist_km",
        "dist_km / (CAST(dt_us AS DOUBLE) / 3600000000.0) AS speed_kmh")
    return (st.where(f"speed_kmh > {IT_SPEED_KMH!r}")
            .selectExpr("user_id", "seg_idx",
                        "CAST(dt_us AS BIGINT) AS dt_us",
                        "ROUND(dist_km, 6) AS dist_km",
                        "ROUND(speed_kmh, 6) AS speed_kmh"))


def _oracle_impossible() -> str:
    from . import fixtures
    lon, lat = fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL
    return f"""
WITH pts AS (
  SELECT user_id, ts, event_id, {lon} AS lon, {lat} AS lat,
         epoch_us(ts) AS us
  FROM events WHERE user_id % {WAYPOINT_MOD} = 0),
seg AS (
  SELECT user_id, lon, lat, us,
         LEAD(lon) OVER w AS lon2, LEAD(lat) OVER w AS lat2,
         LEAD(us) OVER w AS us2,
         ROW_NUMBER() OVER w AS seg_idx
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  QUALIFY lon2 IS NOT NULL AND us2 - us > 0),
st AS (
  SELECT user_id, seg_idx, us2 - us AS dt_us,
         2.0 * 6371.0088 * ASIN(SQRT(
           POW(SIN((RADIANS(lat2) - RADIANS(lat)) / 2.0), 2.0)
           + COS(RADIANS(lat)) * COS(RADIANS(lat2))
           * POW(SIN((RADIANS(lon2) - RADIANS(lon)) / 2.0), 2.0)))
           AS dist_km
  FROM seg),
sp AS (
  SELECT user_id, seg_idx, dt_us, dist_km,
         dist_km / (CAST(dt_us AS DOUBLE) / 3600000000.0) AS speed_kmh
  FROM st)
SELECT user_id, seg_idx, CAST(dt_us AS BIGINT) AS dt_us,
       ROUND(dist_km, 6) AS dist_km,
       ROUND(speed_kmh, 6) AS speed_kmh
FROM sp WHERE speed_kmh > {IT_SPEED_KMH!r}
"""


# --- lucas_kanade_flow: gradient-based optical flow ---------------------------
#
# The OTHER optical-flow algorithm (video_motion_vectors is the
# exhaustive block-matching search; Lucas-Kanade solves the linearized
# brightness-constancy system): per 8x8 window, integer structure-
# tensor moments (sxx, sxy, syy from central-difference gray gradients
# on the previous frame; sxt, syt against the temporal difference) and
# the closed-form 2x2 solve u = (sxy*syt - syy*sxt)/det,
# v = (sxy*sxt - sxx*syt)/det — moments exact int64, det an integer,
# each flow component ONE literal float division (skipped when the
# integer det is 0).  Over the REAL RIFF/AVI decode; the oracle
# recomputes every gradient from the frame formula.

def q_lucas_kanade(spark, sf_dir, n_avis: int | None = None,
                   partitions: int = 4):
    from . import riff
    from .queries_insights import (MV_BLOCKS, MV_H, MV_W, N_MV_AVI,
                                   _mv_params)
    n_avis = N_MV_AVI if n_avis is None else n_avis

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("f", T.IntegerType()),
        T.StructField("blk", T.IntegerType()),
        T.StructField("det", T.LongType()),
        T.StructField("sxt", T.LongType()),
        T.StructField("syt", T.LongType()),
        T.StructField("u", T.DoubleType()),
        T.StructField("v", T.DoubleType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                nf, vx, vy = _mv_params(i)
                f, y, x, c = np.ogrid[0:nf, 0:MV_H, 0:MV_W, 0:3]
                content = ((i * 11 + (x + 100 - vx * f) * 29
                            + (y + 100 - vy * f) * 17 + c * 13) % 256)
                noise = (i + f * 31 + y * 7 + x * 3 + c) % 3
                px = ((content + noise) % 256).astype(np.uint8)
                dec, _ = riff.avi_decode(riff.avi_encode(px, fps=10))
                g = dec.astype(np.int64).sum(axis=3)   # gray = R+G+B
                for fi in range(1, nf):
                    gp, gc = g[fi - 1], g[fi]
                    for bidx, (bx, by) in enumerate(MV_BLOCKS):
                        ys, xs = slice(by, by + 8), slice(bx, bx + 8)
                        ix = (gp[ys, bx + 1:bx + 9]
                              - gp[ys, bx - 1:bx + 7])
                        iy = (gp[by + 1:by + 9, xs]
                              - gp[by - 1:by + 7, xs])
                        it = gc[ys, xs] - gp[ys, xs]
                        sxx = int((ix * ix).sum())
                        sxy = int((ix * iy).sum())
                        syy = int((iy * iy).sum())
                        sxt = int((ix * it).sum())
                        syt = int((iy * it).sum())
                        det = sxx * syy - sxy * sxy
                        if det == 0:
                            continue
                        u = round((sxy * syt - syy * sxt) / det, 6)
                        v = round((sxy * sxt - sxx * syt) / det, 6)
                        rows.append((f"avi{i:03d}", fi, bidx, det,
                                     sxt, syt, u, v))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, n_avis, numPartitions=partitions)
            .mapInPandas(work, schema))


def _oracle_lk() -> str:
    from .queries_insights import N_MV_AVI

    def pix(f_expr: str, x_expr: str, y_expr: str) -> str:
        base = (f"(i * 11 + (({x_expr}) + 100 - vx * ({f_expr})) * 29 "
                f"+ (({y_expr}) + 100 - vy * ({f_expr})) * 17 + cc.c * 13)"
                f" % 256")
        noise = (f"(i + ({f_expr}) * 31 + ({y_expr}) * 7 "
                 f"+ ({x_expr}) * 3 + cc.c) % 3")
        return f"((({base}) + ({noise})) % 256)"

    def gray(f_expr: str, x_expr: str, y_expr: str) -> str:
        return (f"(SELECT SUM({pix(f_expr, x_expr, y_expr)}) FROM "
                f"(SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc)")

    return f"""
WITH ids AS (
  SELECT i, 5 + i % 3 AS nf, i % 5 - 2 AS vx, (i * 3 + 1) % 5 - 2 AS vy
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_MV_AVI - 1})) AS i) t),
blocks AS (
  SELECT b, 2 + (b % 3) * 8 AS bx, 2 + (b // 3) * 4 AS by
  FROM (SELECT UNNEST(GENERATE_SERIES(0, 5)) AS b) t),
grad AS MATERIALIZED (
  SELECT ids.i, ff.f, blocks.b,
         {gray('ff.f - 1', 'blocks.bx + qx.qx + 1',
               'blocks.by + qy.qy')}
         - {gray('ff.f - 1', 'blocks.bx + qx.qx - 1',
                 'blocks.by + qy.qy')} AS gx,
         {gray('ff.f - 1', 'blocks.bx + qx.qx',
               'blocks.by + qy.qy + 1')}
         - {gray('ff.f - 1', 'blocks.bx + qx.qx',
                 'blocks.by + qy.qy - 1')} AS gy,
         {gray('ff.f', 'blocks.bx + qx.qx', 'blocks.by + qy.qy')}
         - {gray('ff.f - 1', 'blocks.bx + qx.qx',
                 'blocks.by + qy.qy')} AS gt
  FROM ids,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, nf - 1)) AS f) ff,
  blocks,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS qx) qx,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS qy) qy),
mom AS (
  SELECT i, f, b,
         SUM(gx * gx) AS sxx, SUM(gx * gy) AS sxy, SUM(gy * gy) AS syy,
         SUM(gx * gt) AS sxt, SUM(gy * gt) AS syt
  FROM grad GROUP BY 1, 2, 3),
sv AS (
  SELECT i, f, b, sxx * syy - sxy * sxy AS det, sxt, syt, sxx, sxy, syy
  FROM mom)
SELECT printf('avi%03d', i) AS media_id, CAST(f AS INT) AS f,
       CAST(b AS INT) AS blk, CAST(det AS BIGINT) AS det,
       CAST(sxt AS BIGINT) AS sxt, CAST(syt AS BIGINT) AS syt,
       ROUND(CAST(sxy * syt - syy * sxt AS DOUBLE) / CAST(det AS DOUBLE),
             6) AS u,
       ROUND(CAST(sxy * sxt - sxx * syt AS DOUBLE) / CAST(det AS DOUBLE),
             6) AS v
FROM sv WHERE det != 0
"""


QUERIES.update({
    "impossible_travel": (q_impossible_travel, _oracle_impossible()),
    "lucas_kanade_flow": (q_lucas_kanade, _oracle_lk()),
})


# --- hmm_map_match: Newson-Krumm HMM map matching -----------------------------
#
# THE canonical trajectory algorithm (Newson & Krumm 2009 — what every
# fleet/navigation stack runs): per-point nearest-segment snapping
# (map_match_roads) picks each point independently and zig-zags at
# intersections; the HMM picks the JOINTLY most probable road sequence
# — emission cost = snap distance, transition cost = how far the road
# hypothesis jumps between consecutive points.  Composition of three
# proven pieces: the radius-width cell-ring candidate join (provable
# superset), fixed-slot candidate pivoting (the trajectory_alignment
# trick), and a staged integer Viterbi with backtrack (the
# unigram_lm_round machinery).  All integers: emissions are the exact
# quantized point-to-segment distances, transitions doubled-Manhattan
# midpoint jumps; argmins tie-break on the lowest slot via fixed CASE
# order, so the path is engine-deterministic.  Users enter the gate
# only when all T points have >= 1 candidate (the Newson-Krumm
# break-the-chain rule).

HMM_T = 4            # points per user chain
HMM_K = 3            # candidate slots per point
HMM_MOD = 5          # user cohort
HMM_R = 2500         # snap radius == cell width (ring proof)
HMM_TRW = 25         # transition weight vs emission units
                     # (tuned so road-continuity actually
                     # overrides nearest-snap on real
                     # chains; the pytest asserts it does)
HMM_SENT = 10 ** 12


def _hmm_cand_pivot() -> list:
    out = []
    for t in range(HMM_T):
        for k in range(HMM_K):
            for col in ("rid", "e", "m2x", "m2y"):
                out.append((
                    f"{col}_{t}_{k}",
                    f"MAX(CASE WHEN t = {t} AND slot = {k} "
                    f"THEN {col} END)"))
    return out


def _hmm_viterbi_stages() -> list:
    sent = HMM_SENT
    stages = []
    st0 = []
    for k in range(HMM_K):
        st0.append((f"v_0_{k}", f"(COALESCE(e_0_{k}, {sent}))"))
    stages.append(st0)
    for t in range(1, HMM_T):
        cand_stage = []
        for k in range(HMM_K):
            for j in range(HMM_K):
                tr = (f"(ABS(COALESCE(m2x_{t - 1}_{j}, 0) "
                      f"- COALESCE(m2x_{t}_{k}, 0)) "
                      f"+ ABS(COALESCE(m2y_{t - 1}_{j}, 0) "
                      f"- COALESCE(m2y_{t}_{k}, 0)))")
                cand_stage.append((
                    f"c_{t}_{k}_{j}",
                    f"(CASE WHEN e_{t}_{k} IS NULL OR v_{t - 1}_{j} >= "
                    f"{sent} THEN {sent} ELSE v_{t - 1}_{j} + e_{t}_{k} "
                    f"+ {HMM_TRW} * {tr} END)"))
        stages.append(cand_stage)
        pick = []
        for k in range(HMM_K):
            cs = [f"c_{t}_{k}_{j}" for j in range(HMM_K)]
            arms_v, arms_b = [], []
            for j in range(HMM_K):
                cond = " AND ".join(
                    [f"{cs[j]} <= {cs[m]}" for m in range(HMM_K)
                     if m != j]) or "TRUE"
                arms_v.append(f"WHEN {cond} THEN {cs[j]}")
                arms_b.append(f"WHEN {cond} THEN {j}")
            pick.append((f"v_{t}_{k}",
                         "(CASE " + " ".join(arms_v) + " END)"))
            pick.append((f"bp_{t}_{k}",
                         "(CASE " + " ".join(arms_b) + " END)"))
        stages.append(pick)
    # terminal argmin over v_{T-1}_k, then backtrack
    last = HMM_T - 1
    vs = [f"v_{last}_{k}" for k in range(HMM_K)]
    arms = []
    for k in range(HMM_K):
        cond = " AND ".join([f"{vs[k]} <= {vs[m]}"
                             for m in range(HMM_K) if m != k]) or "TRUE"
        arms.append(f"WHEN {cond} THEN {k}")
    stages.append([("s_%d" % last, "(CASE " + " ".join(arms) + " END)"),
                   ("cost", "(LEAST(" + ", ".join(vs) + "))")])
    for t in range(last, 0, -1):
        arms = " ".join(f"WHEN {k} THEN bp_{t}_{k}"
                        for k in range(HMM_K))
        stages.append([(f"s_{t - 1}", f"(CASE s_{t} {arms} END)")])
    out = []
    for t in range(HMM_T):
        arms = " ".join(f"WHEN {k} THEN rid_{t}_{k}"
                        for k in range(HMM_K))
        out.append((f"match_{t}", f"(CASE s_{t} {arms} END)"))
    stages.append(out)
    return stages


def q_hmm_map_match(spark, sf_dir):
    from .hashing import mix_sql
    from .queries_insights import _mm_event_exprs, _mm_road_exprs, MM_ROADS

    x1, y1, dx, dy = _mm_road_exprs()
    roads = (spark.range(MM_ROADS).selectExpr("id AS rid")
             .selectExpr("rid", f"{x1} AS x1", f"{y1} AS y1",
                         f"{dx} AS dx", f"{dy} AS dy")
             .selectExpr("rid", "x1", "y1", "dx", "dy",
                         "dx * dx + dy * dy AS len2",
                         "2 * x1 + dx AS m2x", "2 * y1 + dy AS m2y",
                         f"CAST(FLOOR((2 * x1 + dx) / {2 * HMM_R}.0) "
                         "AS BIGINT) AS cmx",
                         f"CAST(FLOOR((2 * y1 + dy) / {2 * HMM_R}.0) "
                         "AS BIGINT) AS cmy"))
    rc = roads.selectExpr("rid", "x1", "y1", "dx", "dy", "len2", "m2x",
                          "m2y", "cmy",
                          "explode(sequence(cmx - 2, cmx + 2)) AS jx")
    rc = rc.selectExpr("rid", "x1", "y1", "dx", "dy", "len2", "m2x",
                       "m2y", "jx",
                       "explode(sequence(cmy - 2, cmy + 2)) AS jy")

    ex, ey = _mm_event_exprs()
    e = (_t(spark, sf_dir, "events")
         .where(F.col("user_id") % HMM_MOD == 0)
         .selectExpr("user_id", "ts", "event_id",
                     f"{ex} AS px", f"{ey} AS py"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pts = (e.withColumn("rn", F.row_number().over(w))
           .where(f"rn <= {HMM_T}")
           .selectExpr("user_id", "rn - 1 AS t", "px", "py",
                       f"CAST(FLOOR(px / {HMM_R}.0) AS BIGINT) AS jx",
                       f"CAST(FLOOR(py / {HMM_R}.0) AS BIGINT) AS jy"))
    cand = (pts.join(F.broadcast(rc), ["jx", "jy"])
            .selectExpr("user_id", "t", "rid", "len2", "m2x", "m2y",
                        "px - x1 AS apx", "py - y1 AS apy", "dx", "dy"))
    scored = (cand.selectExpr("user_id", "t", "rid", "len2", "m2x",
                              "m2y", "apx", "apy",
                              "(apx * dx + apy * dy) AS dot")
              .selectExpr("user_id", "t", "rid", "len2", "m2x", "m2y",
                          "apx", "apy", "dot",
                          "LEAST(GREATEST(dot, 0), len2) AS dotc")
              .selectExpr("user_id", "t", "rid", "m2x", "m2y",
                          "CAST(FLOOR(((apx * apx + apy * apy) * len2 "
                          "- 2 * dotc * dot + dotc * dotc) * 4.0 / len2)"
                          " AS BIGINT) AS e", "len2"))
    inr = scored.where(f"e <= 4 * {HMM_R * HMM_R}")
    ws = W.partitionBy("user_id", "t").orderBy("e", "rid")
    top = (inr.withColumn("slot", F.row_number().over(ws) - 1)
           .where(f"slot < {HMM_K}"))
    piv = (top.groupBy("user_id")
           .agg(F.countDistinct("t").alias("n_t"),
                *[F.expr(e_).alias(al) for al, e_ in _hmm_cand_pivot()])
           .where(f"n_t = {HMM_T}"))
    dp = piv
    for st in _hmm_viterbi_stages():
        dp = dp.selectExpr("*", *[f"{ex_} AS {al}" for al, ex_ in st])
    return dp.selectExpr(
        "user_id",
        *[f"CAST(match_{t} AS BIGINT) AS match_{t}"
          for t in range(HMM_T)],
        "CAST(cost AS BIGINT) AS cost")


def _oracle_hmm() -> str:
    from .queries_insights import _mm_event_exprs, _mm_road_exprs, MM_ROADS
    x1, y1, dx, dy = _mm_road_exprs()
    ex, ey = _mm_event_exprs()
    ex = ex.replace("event_id", "e.event_id")
    ey = ey.replace("event_id", "e.event_id")
    piv = ",\n         ".join(f"{e_} AS {al}"
                              for al, e_ in _hmm_cand_pivot())
    ctes = [f"""
roads AS MATERIALIZED (
  SELECT rid, x1, y1, dx, dy, dx * dx + dy * dy AS len2,
         2 * x1 + dx AS m2x, 2 * y1 + dy AS m2y
  FROM (SELECT i AS rid, {x1} AS x1, {y1} AS y1, {dx} AS dx, {dy} AS dy
        FROM generate_series(0, {MM_ROADS - 1}) AS g(i))),
pts AS MATERIALIZED (
  SELECT user_id, rn - 1 AS t, px, py
  FROM (SELECT e.user_id, {ex} AS px, {ey} AS py,
               ROW_NUMBER() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ts, e.event_id) AS rn
        FROM events e WHERE e.user_id % {HMM_MOD} = 0)
  WHERE rn <= {HMM_T}),
scored AS MATERIALIZED (
  SELECT user_id, t, rid, m2x, m2y,
         CAST(FLOOR(((apx * apx + apy * apy) * len2
              - 2 * dotc * dot + dotc * dotc) * 4.0 / len2) AS BIGINT)
           AS e
  FROM (SELECT p.user_id, p.t, r.rid, r.len2, r.m2x, r.m2y,
               p.px - r.x1 AS apx, p.py - r.y1 AS apy,
               (p.px - r.x1) * r.dx + (p.py - r.y1) * r.dy AS dot,
               LEAST(GREATEST((p.px - r.x1) * r.dx
                              + (p.py - r.y1) * r.dy, 0), r.len2)
                 AS dotc
        FROM pts p JOIN roads r
          ON ABS(2 * p.px - r.m2x) <= 2 * ({HMM_R} + {HMM_R})
             + ABS(r.dx)
         AND ABS(2 * p.py - r.m2y) <= 2 * ({HMM_R} + {HMM_R})
             + ABS(r.dy)) q),
inr AS (SELECT * FROM scored WHERE e <= 4 * {HMM_R * HMM_R}),
top AS MATERIALIZED (
  SELECT user_id, t, rid, m2x, m2y, e,
         ROW_NUMBER() OVER (PARTITION BY user_id, t
                            ORDER BY e, rid) - 1 AS slot
  FROM inr QUALIFY slot < {HMM_K}),
piv AS MATERIALIZED (
  SELECT user_id, COUNT(DISTINCT t) AS n_t,
         {piv}
  FROM top GROUP BY user_id
  HAVING COUNT(DISTINCT t) = {HMM_T})"""]
    prev = "piv"
    for n, st in enumerate(_hmm_viterbi_stages(), start=1):
        cols = ", ".join(f"{e_} AS {al}" for al, e_ in st)
        ctes.append(f"t{n} AS (SELECT *, {cols} FROM {prev})")
        prev = f"t{n}"
    matches = ", ".join(
        f"CAST(match_{t} AS BIGINT) AS match_{t}" for t in range(HMM_T))
    return ("WITH " + ",".join(ctes) + f"""
SELECT user_id, {matches}, CAST(cost AS BIGINT) AS cost
FROM {prev}""")


QUERIES.update({
    "hmm_map_match": (q_hmm_map_match, _oracle_hmm()),
})


# --- kalman_filter_series: fixed-unroll scalar Kalman smoothing ---------------
#
# The state-estimation family's missing member (ewma_forecast is the
# fixed-gain special case; the Kalman gain ADAPTS from the variance
# recursion): a random-walk-plus-noise model (Q=4, R=16) filtered over
# the last 16 hours of each event type's dense hourly series.  The
# recursion p' = p + Q; K = p'/(p' + R); x += K(z - x); p = (1 - K)p'
# unrolls into 16 staged projections of IDENTICAL literal float ops
# (the CRS fixed-unroll rule applied to a stochastic filter); the gate
# reads ROUND(...,6) terminal state.  Corpus folds to the per-type
# hourly series once; everything after is alphabet-bounded.

KF_N = 16
KF_Q, KF_R = 4.0, 16.0


def _kf_stages() -> list:
    stages = [[("x_0", "(CAST(z_0 AS DOUBLE))"),
               ("p_0", f"(CAST({KF_R!r} AS DOUBLE))")]]
    for k in range(1, KF_N):
        stages.append([
            (f"pp_{k}", f"(p_{k - 1} + CAST({KF_Q!r} AS DOUBLE))")])
        stages.append([
            (f"g_{k}", f"(pp_{k} / (pp_{k} + CAST({KF_R!r} AS DOUBLE)))")])
        stages.append([
            (f"x_{k}", f"(x_{k - 1} + g_{k} * (CAST(z_{k} AS DOUBLE) "
                       f"- x_{k - 1}))"),
            (f"p_{k}", f"((CAST(1.0 AS DOUBLE) - g_{k}) * pp_{k})")])
    return stages


def q_kalman_series(spark, sf_dir):
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) / 3600000000)"
        " AS BIGINT) AS h")
    counts = e.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("event_type").orderBy(F.desc("h"))
    last = (counts.withColumn("rk", F.row_number().over(w))
            .where(f"rk <= {KF_N}")
            .selectExpr("event_type", f"{KF_N} - rk AS k", "c"))
    piv = (last.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_h"),
                *[F.expr(f"MAX(CASE WHEN k = {k} THEN c END)")
                  .alias(f"z_{k}") for k in range(KF_N)])
           .where(f"n_h = {KF_N}"))
    dp = piv
    for st in _kf_stages():
        dp = dp.selectExpr("*", *[f"{e_} AS {al}" for al, e_ in st])
    lastk = KF_N - 1
    return dp.selectExpr(
        "event_type", f"CAST(z_{lastk} AS BIGINT) AS z_last",
        f"ROUND(x_{lastk}, 6) AS x_hat",
        f"ROUND(p_{lastk}, 6) AS p_var")


def _oracle_kalman() -> str:
    pivs = ",\n         ".join(
        f"MAX(CASE WHEN k = {k} THEN c END) AS z_{k}"
        for k in range(KF_N))
    ctes = [f"""
counts AS MATERIALIZED (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2),
lastn AS (
  SELECT event_type, {KF_N} - rk AS k, c
  FROM (SELECT event_type, c,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY h DESC) AS rk
        FROM counts)
  WHERE rk <= {KF_N}),
piv AS MATERIALIZED (
  SELECT event_type, COUNT(*) AS n_h,
         {pivs}
  FROM lastn GROUP BY event_type HAVING COUNT(*) = {KF_N})"""]
    prev = "piv"
    for n, st in enumerate(_kf_stages(), start=1):
        cols = ", ".join(f"{e_} AS {al}" for al, e_ in st)
        ctes.append(f"t{n} AS (SELECT *, {cols} FROM {prev})")
        prev = f"t{n}"
    lastk = KF_N - 1
    return ("WITH " + ",".join(ctes) + f"""
SELECT event_type, CAST(z_{lastk} AS BIGINT) AS z_last,
       ROUND(x_{lastk}, 6) AS x_hat,
       ROUND(p_{lastk}, 6) AS p_var
FROM {prev}""")


QUERIES.update({
    "kalman_filter_series": (q_kalman_series, _oracle_kalman()),
})


# --- skyline_3d: three-dimensional Pareto skyline -----------------------------
#
# The 3-D extension of pareto_frontier's 2-D running-max skyline (which
# cannot generalize past two dims): parts with (min price, max size,
# min synthetic lead time), dominance = <=,>=,<= with one strict.  The
# scale architecture is BUCKET-PRUNED two-phase: (1) per price-decile
# LOCAL skylines — sound because dominance chains are transitive and
# terminate at a local-skyline member, so every dominated point has a
# dominator that SURVIVES phase 1; (2) the global refine self-joins
# only the phase-1 survivors.  The oracle is the direct NOT EXISTS
# dominance query over ALL pairs — gate equality proves the pruning
# lossless.  All integer dims (price in cents).

SKY_MOD = 20          # part cohort knob


def _sky_dom(a: str, b: str) -> str:
    """SQL: does row-alias a dominate row-alias b?"""
    return (f"({a}.price <= {b}.price AND {a}.size >= {b}.size "
            f"AND {a}.lead <= {b}.lead "
            f"AND ({a}.price < {b}.price OR {a}.size > {b}.size "
            f"OR {a}.lead < {b}.lead))")


def q_skyline_3d(spark, sf_dir):
    from .hashing import mix_sql
    p = (_t(spark, sf_dir, "part")
         .where(F.col("p_partkey") % SKY_MOD == 0)
         .selectExpr("p_partkey",
                     "CAST(FLOOR(p_retailprice * 100.0 + 0.5) AS BIGINT)"
                     " AS price",
                     "CAST(p_size AS BIGINT) AS size",
                     f"({mix_sql('p_partkey * 13 + 5')}) % 1000 AS lead",
                     "CAST(FLOOR(p_retailprice / 200.0) AS BIGINT)"
                     " AS bkt"))
    a = p.selectExpr("p_partkey AS ak", "price", "size", "lead", "bkt")
    # phase 1: local skylines within each price bucket
    dom_ab = _sky_dom("a", "b")
    local = (p.alias("b")
             .join(a.alias("a"),
                   F.expr("a.bkt = b.bkt AND a.ak != b.p_partkey AND "
                          + dom_ab), "left_anti"))
    cand = local.select("p_partkey", "price", "size", "lead") \
        .localCheckpoint()
    # phase 2: refine candidates against candidates only
    ca = cand.selectExpr("p_partkey AS ak", "price", "size", "lead")
    sky = (cand.alias("b")
           .join(ca.alias("a"),
                 F.expr("a.ak != b.p_partkey AND " + _sky_dom("a", "b")),
                 "left_anti"))
    return sky.selectExpr("p_partkey", "CAST(price AS BIGINT) AS price",
                          "CAST(size AS BIGINT) AS size",
                          "CAST(lead AS BIGINT) AS lead")


def _oracle_skyline() -> str:
    from .hashing import mix_sql
    return f"""
WITH p AS MATERIALIZED (
  SELECT p_partkey,
         CAST(FLOOR(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price,
         CAST(p_size AS BIGINT) AS size,
         ({mix_sql('p_partkey * 13 + 5')}) % 1000 AS lead
  FROM part WHERE p_partkey % {SKY_MOD} = 0)
SELECT b.p_partkey, b.price, b.size, b.lead
FROM p b
WHERE NOT EXISTS (
  SELECT 1 FROM p a
  WHERE a.p_partkey != b.p_partkey
    AND a.price <= b.price AND a.size >= b.size AND a.lead <= b.lead
    AND (a.price < b.price OR a.size > b.size OR a.lead < b.lead))
"""


# --- conformal_interval: split-conformal calibration audit --------------------
#
# The distribution-free ML-uncertainty staple (split conformal, alpha =
# 0.1): calibrate the nonconformity quantile q_hat on even order keys
# (score = |price - per-priority calibration mean|, all integer cents;
# q_hat = the EXACT ceil((n+1)(1-alpha))-th smallest score via a rank
# window over the calibration split), then audit empirical coverage of
# pred +- q_hat on the odd-key test split.  The finite-sample conformal
# guarantee (coverage >= 1 - alpha in expectation) is asserted loosely
# in pytest; the gate carries the exact integer counts.

CONF_ALPHA = 0.1


def q_conformal_interval(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS seg", "o_orderkey AS k",
        "CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents")
    cal = o.where("k % 2 = 0")
    tst = o.where("k % 2 = 1")
    mu = (cal.groupBy("seg")
          .agg(F.count(F.lit(1)).alias("n_cal"),
               F.expr("CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS BIGINT)")
               .alias("s"))
          .selectExpr("seg", "n_cal", "s DIV n_cal AS pred"))
    w = W.partitionBy("seg").orderBy("nc", "k")
    sc = (cal.join(F.broadcast(mu), "seg")
          .selectExpr("seg", "k", "n_cal", "pred",
                      "ABS(cents - pred) AS nc"))
    rk = sc.withColumn("rk", F.row_number().over(w))
    q = (rk.where(f"rk = CAST(CEIL((n_cal + 1) * "
                  f"CAST({1.0 - CONF_ALPHA!r} AS DOUBLE)) AS BIGINT)")
         .selectExpr("seg", "nc AS q_hat"))
    cov = (tst.join(F.broadcast(mu.select("seg", "n_cal", "pred")), "seg")
           .join(F.broadcast(q), "seg")
           .groupBy("seg", "n_cal", "pred", "q_hat")
           .agg(F.count(F.lit(1)).alias("n_test"),
                F.sum(F.expr(
                    "CASE WHEN ABS(cents - pred) <= q_hat THEN 1 "
                    "ELSE 0 END")).alias("n_cov")))
    return cov.selectExpr(
        "seg", "CAST(n_cal AS BIGINT) AS n_cal",
        "CAST(pred AS BIGINT) AS pred", "CAST(q_hat AS BIGINT) AS q_hat",
        "CAST(n_test AS BIGINT) AS n_test",
        "CAST(n_cov AS BIGINT) AS n_cov",
        "ROUND(CAST(n_cov AS DOUBLE) / CAST(n_test AS DOUBLE), 6)"
        " AS coverage")


def _oracle_conformal() -> str:
    return f"""
WITH o AS (
  SELECT o_orderpriority AS seg, o_orderkey AS k,
         CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders),
mu AS (
  SELECT seg, COUNT(*) AS n_cal,
         CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS BIGINT)
           // COUNT(*) AS pred
  FROM o WHERE k % 2 = 0 GROUP BY seg),
sc AS (
  SELECT o.seg, o.k, mu.n_cal, mu.pred, ABS(o.cents - mu.pred) AS nc
  FROM o JOIN mu USING (seg) WHERE o.k % 2 = 0),
rk AS (
  SELECT seg, n_cal, pred, nc,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY nc, k) AS rk
  FROM sc),
q AS (
  SELECT seg, nc AS q_hat FROM rk
  WHERE rk = CAST(CEIL((n_cal + 1)
                       * CAST({1.0 - CONF_ALPHA!r} AS DOUBLE)) AS BIGINT))
SELECT t.seg, CAST(mu.n_cal AS BIGINT) AS n_cal,
       CAST(mu.pred AS BIGINT) AS pred,
       CAST(q.q_hat AS BIGINT) AS q_hat,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN ABS(t.cents - mu.pred) <= q.q_hat THEN 1
                ELSE 0 END) AS BIGINT) AS n_cov,
       ROUND(CAST(SUM(CASE WHEN ABS(t.cents - mu.pred) <= q.q_hat THEN 1
                      ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
             6) AS coverage
FROM o t JOIN mu ON t.seg = mu.seg
JOIN q ON t.seg = q.seg
WHERE t.k % 2 = 1
GROUP BY t.seg, mu.n_cal, mu.pred, q.q_hat
"""


QUERIES.update({
    "skyline_3d": (q_skyline_3d, _oracle_skyline()),
    "conformal_interval": (q_conformal_interval, _oracle_conformal()),
})


# --- bradley_terry: preference-ranking strength estimation --------------------
#
# The pairwise-preference model behind Elo, chess ratings, and LLM
# arena leaderboards (Bradley-Terry 1952, Zermelo's MM iteration):
# "matches" between event types are consecutive events of a user with
# a hash-decided winner; two minorization-maximization rounds
# s_i <- W_i / sum_j n_ij / (s_i + s_j) run over the ALPHABET-bounded
# (5x5) win matrix — the corpus is touched once to build it.  Round-1
# strengths are quantized ROUND(...,6) BEFORE feeding round 2 (the
# engine-independence rule for iterated floats); the gate carries the
# integer win matrix margins and both rounds' strengths.

BT_ROUNDS = 2


def q_bradley_terry(spark, sf_dir):
    from .hashing import mix_sql
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    m = (e.withColumn("nxt", F.lead("event_type").over(w))
         .withColumn("nid", F.lead("event_id").over(w))
         .where("nxt IS NOT NULL AND nxt != event_type")
         .selectExpr("event_type AS p", "nxt AS q",
                     f"({mix_sql('event_id * 7 + nid * 3')}) % 2 AS w1"))
    # canonical pair orientation + win counts
    pairs = (m.selectExpr(
        "CASE WHEN p < q THEN p ELSE q END AS a",
        "CASE WHEN p < q THEN q ELSE p END AS b",
        "CASE WHEN (p < q) = (w1 = 0) THEN 1 ELSE 0 END AS a_win")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("a_win").alias("wa")))
    pairs = pairs.localCheckpoint()
    # long form: per (i, j): n_ij, wins_i_over_j
    long = (pairs.selectExpr("a AS i", "b AS j", "n", "wa AS wi")
            .unionByName(pairs.selectExpr("b AS i", "a AS j", "n",
                                          "n - wa AS wi")))
    # MM round 1 from s = 1: s_i = W_i / sum_j (n_ij / 2)
    r1 = (long.groupBy("i")
          .agg(F.sum("wi").alias("w_tot"), F.sum("n").alias("n_tot"))
          .selectExpr("i", "w_tot", "n_tot",
                      "ROUND(CAST(w_tot AS DOUBLE) "
                      "/ (CAST(n_tot AS DOUBLE) / 2.0), 6) AS s1"))
    # MM round 2: s_i = W_i / sum_j n_ij / (s1_i + s1_j)
    d2 = (long.join(F.broadcast(r1.selectExpr("i", "s1")), "i")
          .join(F.broadcast(r1.selectExpr("i AS j", "s1 AS s1j")), "j")
          .groupBy("i")
          .agg(F.sum(F.expr("CAST(n AS DOUBLE) / (s1 + s1j)"))
               .alias("den")))
    return (r1.join(d2, "i")
            .selectExpr("i AS item", "CAST(w_tot AS BIGINT) AS wins",
                        "CAST(n_tot AS BIGINT) AS n_matches", "s1",
                        "ROUND(CAST(w_tot AS DOUBLE) / den, 6) AS s2"))


def _oracle_bradley_terry() -> str:
    from .hashing import mix_sql
    return f"""
WITH m AS (
  SELECT event_type AS p, nxt AS q,
         ({mix_sql('event_id * 7 + nid * 3')}) % 2 AS w1
  FROM (SELECT event_type, event_id,
               LEAD(event_type) OVER w AS nxt,
               LEAD(event_id) OVER w AS nid
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
  WHERE nxt IS NOT NULL AND nxt != event_type),
pairs AS MATERIALIZED (
  SELECT CASE WHEN p < q THEN p ELSE q END AS a,
         CASE WHEN p < q THEN q ELSE p END AS b,
         COUNT(*) AS n,
         SUM(CASE WHEN (p < q) = (w1 = 0) THEN 1 ELSE 0 END) AS wa
  FROM m GROUP BY 1, 2),
long AS MATERIALIZED (
  SELECT a AS i, b AS j, n, wa AS wi FROM pairs
  UNION ALL
  SELECT b AS i, a AS j, n, n - wa AS wi FROM pairs),
r1 AS MATERIALIZED (
  SELECT i, SUM(wi) AS w_tot, SUM(n) AS n_tot,
         ROUND(CAST(SUM(wi) AS DOUBLE)
               / (CAST(SUM(n) AS DOUBLE) / 2.0), 6) AS s1
  FROM long GROUP BY i),
d2 AS (
  SELECT l.i, SUM(CAST(l.n AS DOUBLE) / (a.s1 + b.s1)) AS den
  FROM long l JOIN r1 a ON l.i = a.i JOIN r1 b ON l.j = b.i
  GROUP BY l.i)
SELECT r1.i AS item, CAST(r1.w_tot AS BIGINT) AS wins,
       CAST(r1.n_tot AS BIGINT) AS n_matches, r1.s1,
       ROUND(CAST(r1.w_tot AS DOUBLE) / d2.den, 6) AS s2
FROM r1 JOIN d2 ON r1.i = d2.i
"""


# --- qa_token_f1: extractive-QA span evaluation -------------------------------
#
# The SQuAD evaluation pair (exact match + token F1) — the
# order-INSENSITIVE sibling of rouge_lcs_pairs' LCS: candidate and
# reference spans (the same variable-length token prefixes), token F1
# from the MULTISET intersection sum(min(count_c, count_r)) — exact
# integers via a token-keyed join of per-span token histograms; EM is
# string equality of the joined spans.  One pair-keyed shuffle.

def q_qa_token_f1(spark, sf_dir):
    # every 25th pair's reference reads the CANDIDATE's doc — planted
    # exact-match answers, so the EM column provably gates something
    base = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 2 = 1 AND (doc_id DIV 2) % 25 = 0 "
        "THEN doc_id - 1 ELSE doc_id END AS src_id")
    txt = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id AS src_id", "text")
    d = (base.join(txt, "src_id")
         .selectExpr("doc_id", "split(text, ' ') AS tk",
                     "5 + src_id % 4 AS mlen"))
    spans = d.selectExpr(
        "doc_id DIV 2 AS pair_id", "doc_id % 2 AS side",
        "slice(tk, 1, mlen) AS span", "mlen")
    toks = (spans.selectExpr("pair_id", "side",
                             "explode(span) AS tok")
            .groupBy("pair_id", "side", "tok")
            .agg(F.count(F.lit(1)).alias("c")))
    inter = (toks.where("side = 0").selectExpr("pair_id", "tok",
                                               "c AS c0")
             .join(toks.where("side = 1")
                   .selectExpr("pair_id", "tok", "c AS c1"),
                   ["pair_id", "tok"])
             .groupBy("pair_id")
             .agg(F.sum(F.expr("LEAST(c0, c1)")).alias("overlap")))
    meta = (spans.groupBy("pair_id")
            .agg(F.max(F.expr("CASE WHEN side = 0 THEN mlen END"))
                 .alias("m"),
                 F.max(F.expr("CASE WHEN side = 1 THEN mlen END"))
                 .alias("n"),
                 F.max(F.expr(
                     "CASE WHEN side = 0 THEN array_join(span, ' ') END"))
                 .alias("sa"),
                 F.max(F.expr(
                     "CASE WHEN side = 1 THEN array_join(span, ' ') END"))
                 .alias("sb")))
    return (meta.join(inter, "pair_id", "left")
            .selectExpr(
                "pair_id", "CAST(m AS BIGINT) AS m",
                "CAST(n AS BIGINT) AS n",
                "CAST(COALESCE(overlap, 0) AS BIGINT) AS overlap",
                "CASE WHEN sa = sb THEN 1 ELSE 0 END AS exact_match",
                "ROUND(CAST(2 * COALESCE(overlap, 0) AS DOUBLE) "
                "/ CAST(m + n AS DOUBLE), 6) AS token_f1"))


ORACLE_QA_F1 = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 1 AND (doc_id // 2) % 25 = 0
              THEN doc_id - 1 ELSE doc_id END AS src_id
  FROM documents),
d AS (
  SELECT base.doc_id, string_split(t.text, ' ') AS tk,
         5 + base.src_id % 4 AS mlen
  FROM base JOIN documents t ON t.doc_id = base.src_id),
spans AS MATERIALIZED (
  SELECT doc_id // 2 AS pair_id, doc_id % 2 AS side,
         tk[1:mlen] AS span, mlen
  FROM d),
toks AS (
  SELECT pair_id, side, UNNEST(span) AS tok FROM spans),
hist AS (
  SELECT pair_id, side, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2, 3),
inter AS (
  SELECT a.pair_id, SUM(LEAST(a.c, b.c)) AS overlap
  FROM hist a JOIN hist b
    ON a.pair_id = b.pair_id AND a.tok = b.tok
   AND a.side = 0 AND b.side = 1
  GROUP BY a.pair_id),
meta AS (
  SELECT pair_id,
         MAX(CASE WHEN side = 0 THEN mlen END) AS m,
         MAX(CASE WHEN side = 1 THEN mlen END) AS n,
         MAX(CASE WHEN side = 0 THEN array_to_string(span, ' ') END)
           AS sa,
         MAX(CASE WHEN side = 1 THEN array_to_string(span, ' ') END)
           AS sb
  FROM spans GROUP BY pair_id)
SELECT meta.pair_id, CAST(m AS BIGINT) AS m, CAST(n AS BIGINT) AS n,
       CAST(COALESCE(overlap, 0) AS BIGINT) AS overlap,
       CASE WHEN sa = sb THEN 1 ELSE 0 END AS exact_match,
       ROUND(CAST(2 * COALESCE(overlap, 0) AS DOUBLE)
             / CAST(m + n AS DOUBLE), 6) AS token_f1
FROM meta LEFT JOIN inter ON meta.pair_id = inter.pair_id
"""


QUERIES.update({
    "bradley_terry": (q_bradley_terry, _oracle_bradley_terry()),
    "qa_token_f1": (q_qa_token_f1, ORACLE_QA_F1),
})


# --- ndcg_at_k: graded ranking quality per query group ------------------------
#
# The search/recsys ranking metric next to roc_auc (binary, order-free)
# and average_precision (binary, rank-weighted): NDCG@5 with GRADED
# relevance.  Float determinism: the 1/log2(rank+1) discounts exist only
# at ranks 1..5, so they are folded in PYTHON to five integer constants
# D[r] = floor(Q / log2(r+1)) and the per-item gain is the pure integer
# product rel * D[rank] — DCG/IDCG are exact int64 at any aggregation
# order and NDCG is one ROUND division.  Ranks carry the o_orderkey
# total-order tiebreak (the FIXTURES.md rank rule).  Plan: two
# qid-partitioned rank windows over the same scan + one 40-row join —
# at 100 TB this is one shuffle on qid and per-query linear work.

import math as _math

NDCG_Q = 1_000_000
NDCG_K = 5
# floor(Q / log2(rank+1)) for rank 1..5 — python-folded, shared verbatim
NDCG_D = [int(NDCG_Q / _math.log2(r + 1)) for r in range(1, NDCG_K + 1)]
_NDCG_DISC = ("CASE rnk " + " ".join(
    f"WHEN {r + 1} THEN {d}" for r, d in enumerate(NDCG_D)) + " END")

_NDCG_BASE = """
  SELECT o_custkey % 40 AS qid, o_orderkey AS k,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS s,
         (CASE o_orderstatus WHEN 'F' THEN 2 WHEN 'O' THEN 1 ELSE 0 END)
         + (CASE WHEN o_orderpriority < '3' THEN 1 ELSE 0 END) AS rel
  FROM orders
"""


def q_ndcg_at_k(spark, sf_dir):
    # salted partial top-k: a PARTITION BY qid window alone serializes
    # each query group into one task (the average_precision /
    # outlier_audit serialization trap).  Every global top-5 element is
    # inside its salt's top-5, so a (qid, k % 64) partial rank ≤ 5
    # prunes the corpus to ≤ 64*5 rows per qid BEFORE the per-qid
    # window — identical result, 64x the shuffle parallelism.
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(f"""
WITH base AS ({_NDCG_BASE}),
part_r AS (
  SELECT qid, rel, s, k FROM (
    SELECT qid, rel, s, k,
           ROW_NUMBER() OVER (PARTITION BY qid, k % 64
                              ORDER BY s DESC, k) AS prn
    FROM base) t WHERE prn <= {NDCG_K}),
part_i AS (
  SELECT qid, rel, k FROM (
    SELECT qid, rel, k,
           ROW_NUMBER() OVER (PARTITION BY qid, k % 64
                              ORDER BY rel DESC, k) AS prn
    FROM base) t WHERE prn <= {NDCG_K}),
ranked AS (
  SELECT qid, rel,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, k) AS rnk
  FROM part_r),
ideal AS (
  SELECT qid, rel,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, k) AS rnk
  FROM part_i),
dcg AS (
  SELECT qid, CAST(SUM(rel * {_NDCG_DISC}) AS BIGINT) AS dcg_q,
         CAST(COUNT(*) AS BIGINT) AS n_top
  FROM ranked WHERE rnk <= {NDCG_K} GROUP BY qid),
idcg AS (
  SELECT qid, CAST(SUM(rel * {_NDCG_DISC}) AS BIGINT) AS idcg_q
  FROM ideal WHERE rnk <= {NDCG_K} GROUP BY qid)
SELECT dcg.qid, n_top, dcg_q, idcg_q,
       CASE WHEN idcg_q > 0
            THEN ROUND(CAST(dcg_q AS DOUBLE) / CAST(idcg_q AS DOUBLE), 6)
       END AS ndcg
FROM dcg JOIN idcg ON dcg.qid = idcg.qid
""")


ORACLE_NDCG = f"""
WITH base AS ({_NDCG_BASE}),
ranked AS (
  SELECT qid, rel,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, k) AS rnk
  FROM base),
ideal AS (
  SELECT qid, rel,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, k) AS rnk
  FROM base),
dcg AS (
  SELECT qid, CAST(SUM(rel * {_NDCG_DISC}) AS BIGINT) AS dcg_q,
         CAST(COUNT(*) AS BIGINT) AS n_top
  FROM ranked WHERE rnk <= {NDCG_K} GROUP BY qid),
idcg AS (
  SELECT qid, CAST(SUM(rel * {_NDCG_DISC}) AS BIGINT) AS idcg_q
  FROM ideal WHERE rnk <= {NDCG_K} GROUP BY qid)
SELECT dcg.qid, n_top, dcg_q, idcg_q,
       CASE WHEN idcg_q > 0
            THEN ROUND(CAST(dcg_q AS DOUBLE) / CAST(idcg_q AS DOUBLE), 6)
       END AS ndcg
FROM dcg JOIN idcg ON dcg.qid = idcg.qid
"""


# --- cuped_adjustment: variance-reduced experiment readout --------------------
#
# CUPED (Deng et al. 2013), the standard online-experimentation variance
# reducer: theta = cov(X, Y) / var(X) over users, where the covariate X
# is pre-exposure activity.  Here X = a user's value cents on even
# event_ids, Y on odd (deterministic halves of the same activity stream,
# correlated by construction).  The spatial_autocorr determinism rule:
# per-cohort moments are exact (int64 for n/sx/sy, DECIMAL(38,0) for the
# squares — per-user cents sums square past int64 at bench scale), and
# theta / rho^2 / variance-reduction are ONE literal float expression
# each, identical in both engines.  Plan: one user-keyed aggregate then
# a 4-row cohort aggregate — map-side combinable end to end.

def q_cuped_adjustment(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    per_user = (e.selectExpr(
        "user_id",
        "CASE WHEN event_id % 2 = 0 THEN "
        "CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) ELSE 0 END AS xc",
        "CASE WHEN event_id % 2 = 1 THEN "
        "CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) ELSE 0 END AS yc")
        .groupBy("user_id")
        .agg(F.sum("xc").alias("x"), F.sum("yc").alias("y")))
    m = (per_user.selectExpr("user_id % 4 AS cohort", "x", "y")
         .groupBy("cohort")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.expr("SUM(CAST(x AS DECIMAL(38, 0)) * x)").alias("sxx"),
              F.expr("SUM(CAST(x AS DECIMAL(38, 0)) * y)").alias("sxy"),
              F.expr("SUM(CAST(y AS DECIMAL(38, 0)) * y)").alias("syy")))
    # degenerate-covariate guard (the ab_test_ztest NULL-on-degenerate
    # rule): a cohort with zero pre-period variance has no CUPED theta
    vx = "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    vy = "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
    cov = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    return m.selectExpr(
        "CAST(cohort AS BIGINT) AS cohort", "CAST(n AS BIGINT) AS n_users",
        "CAST(sx AS BIGINT) AS sx", "CAST(sy AS BIGINT) AS sy",
        f"CASE WHEN {vx} = 0.0 THEN NULL ELSE "
        f"ROUND({cov} / {vx}, 6) END AS theta",
        f"CASE WHEN {vx} * {vy} = 0.0 THEN NULL ELSE "
        f"ROUND(({cov} * {cov}) / ({vx} * {vy}), 6) END AS rho2")


ORACLE_CUPED = """
WITH per_user AS (
  SELECT user_id,
         SUM(CASE WHEN event_id % 2 = 0
                  THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                  ELSE 0 END) AS x,
         SUM(CASE WHEN event_id % 2 = 1
                  THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                  ELSE 0 END) AS y
  FROM events GROUP BY user_id),
m AS (
  SELECT user_id % 4 AS cohort, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS DECIMAL(38, 0)) * x) AS sxx,
         SUM(CAST(x AS DECIMAL(38, 0)) * y) AS sxy,
         SUM(CAST(y AS DECIMAL(38, 0)) * y) AS syy
  FROM per_user GROUP BY 1)
SELECT CAST(cohort AS BIGINT) AS cohort, CAST(n AS BIGINT) AS n_users,
       CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) = 0.0
            THEN NULL ELSE
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
             (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
       END AS theta,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                 (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) = 0.0
            THEN NULL ELSE
       ROUND(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) *
              (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) /
             ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
              (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
       END AS rho2
FROM m
"""


QUERIES.update({
    "ndcg_at_k": (q_ndcg_at_k, ORACLE_NDCG),
    "cuped_adjustment": (q_cuped_adjustment, ORACLE_CUPED),
})


# --- ipf_raking: iterative-proportional-fitting survey weights ----------------
#
# Raking / post-stratification (Deming-Stephan IPF), the survey-weighting
# primitive: calibrate a 1-in-3 sample's (status x priority) cell weights
# so its margins match the POPULATION margins, three scaling passes
# (rows, cols, rows) unrolled exactly.  Weights are integers scaled by
# Q=2^16 and every pass is w' = (w * target * Q) DIV current — pure int64
# with the product bound w*target*Q < 2^63 documented (holds to ~5e8
# population rows; DECIMAL(38,0) takes over past that).  Plan: the only
# corpus-scale work is two map-side-combinable groupBys (sample cells +
# population margins); the 15-row IPF unroll is driver-free broadcast
# algebra.  Oracle: identical chained MATERIALIZED CTEs.

IPF_Q = 65536

_IPF_SQL = f"""
WITH cells AS MATERIALIZED (
  SELECT o_orderstatus AS s, o_orderpriority AS p,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1, 2),
rowt AS MATERIALIZED (
  SELECT o_orderstatus AS s, CAST(COUNT(*) AS BIGINT) AS t
  FROM orders GROUP BY 1),
colt AS MATERIALIZED (
  SELECT o_orderpriority AS p, CAST(COUNT(*) AS BIGINT) AS u
  FROM orders GROUP BY 1),
w0 AS MATERIALIZED (
  SELECT s, p, n, CAST({IPF_Q} AS BIGINT) AS w FROM cells),
r1 AS MATERIALIZED (
  SELECT w0.s, w0.p, w0.n,
         (w0.w * rowt.t * {IPF_Q}) {{div}} cur.c AS w
  FROM w0
  JOIN (SELECT s, CAST(SUM(n * w) AS BIGINT) AS c FROM w0 GROUP BY s) cur
    ON cur.s = w0.s
  JOIN rowt ON rowt.s = w0.s),
r2 AS MATERIALIZED (
  SELECT r1.s, r1.p, r1.n,
         (r1.w * colt.u * {IPF_Q}) {{div}} cur.c AS w
  FROM r1
  JOIN (SELECT p, CAST(SUM(n * w) AS BIGINT) AS c FROM r1 GROUP BY p) cur
    ON cur.p = r1.p
  JOIN colt ON colt.p = r1.p),
r3 AS MATERIALIZED (
  SELECT r2.s, r2.p, r2.n,
         (r2.w * rowt.t * {IPF_Q}) {{div}} cur.c AS w
  FROM r2
  JOIN (SELECT s, CAST(SUM(n * w) AS BIGINT) AS c FROM r2 GROUP BY s) cur
    ON cur.s = r2.s
  JOIN rowt ON rowt.s = r2.s)
SELECT s AS status, p AS priority, n AS n_sample,
       CAST(w AS BIGINT) AS wq,
       (n * w) {{div}} {IPF_Q} AS fitted,
       ROUND(CAST(w AS DOUBLE) / {IPF_Q}.0, 6) AS weight
FROM r3
"""


def q_ipf_raking(spark, sf_dir):
    # DataFrame rounds, not plain CTEs: Spark has no MATERIALIZED
    # modifier and each IPF round references its predecessor twice, so a
    # CTE chain would re-expand the corpus scan 2^rounds times (the
    # strahler_order oracle lesson).  localCheckpoint pins the three
    # tiny aggregates; every round is 15-row broadcast algebra.
    o = _t(spark, sf_dir, "orders")
    cells = (o.where("o_orderkey % 3 = 0")
             .groupBy(F.col("o_orderstatus").alias("s"),
                      F.col("o_orderpriority").alias("p"))
             .agg(F.count(F.lit(1)).cast("long").alias("n"))
             .localCheckpoint())
    rowt = (o.groupBy(F.col("o_orderstatus").alias("s"))
            .agg(F.count(F.lit(1)).cast("long").alias("t"))
            .localCheckpoint())
    colt = (o.groupBy(F.col("o_orderpriority").alias("p"))
            .agg(F.count(F.lit(1)).cast("long").alias("u"))
            .localCheckpoint())
    w = cells.withColumn("w", F.lit(IPF_Q).cast("long"))
    for key, tgt, tcol in (("s", rowt, "t"), ("p", colt, "u"),
                           ("s", rowt, "t")):
        cur = w.groupBy(key).agg(
            F.expr("CAST(SUM(n * w) AS BIGINT)").alias("c"))
        w = (w.join(F.broadcast(cur), key).join(F.broadcast(tgt), key)
             .selectExpr("s", "p", "n",
                         f"(w * {tcol} * {IPF_Q}) DIV c AS w"))
    return w.selectExpr(
        "s AS status", "p AS priority", "n AS n_sample",
        "CAST(w AS BIGINT) AS wq",
        f"(n * w) DIV {IPF_Q} AS fitted",
        f"ROUND(CAST(w AS DOUBLE) / {float(IPF_Q)!r}, 6) AS weight")


ORACLE_IPF = _IPF_SQL.format(div="//")


QUERIES.update({
    "ipf_raking": (q_ipf_raking, ORACLE_IPF),
})


# --- stable_matching: Gale-Shapley deferred acceptance ------------------------
#
# The market-design primitive (matching markets, ad allocation, school
# choice): proposer-optimal deferred acceptance on a 4x4 instance whose
# preference matrices are DERIVED FROM THE CORPUS — customer segments
# (p = o_custkey % 4) rank supplier segments (a = l_suppkey % 4) by
# total shipped quantity, supplier segments rank customer segments by
# revenue cents (both with index tiebreaks, the FIXTURES.md rank rule).
# The only corpus-scale work is ONE lineitem x orders join + 16-row
# aggregate; the GS loop then unrolls a FIXED 12 simultaneous-proposal
# rounds (n=4 needs at most 13 total proposals; pytest proves the
# fixpoint lands inside the bound — the kcore_decompose pattern), each
# round pure 16-row algebra: free proposers propose to their best
# not-yet-rejecting acceptor, acceptors hold the best proposer by their
# own ranking, everyone else is rejected monotonically.  Oracle: the
# identical rounds as chained MATERIALIZED CTEs.

GS_ROUNDS = 12

_GS_BASE = """
  SELECT o_custkey % 4 AS p, l_suppkey % 4 AS a,
         CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
           AS qty,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
"""

_GS_RANKED = """
  SELECT p, a, qty, rev,
         ROW_NUMBER() OVER (PARTITION BY p ORDER BY qty DESC, a)
           AS rank_pa,
         ROW_NUMBER() OVER (PARTITION BY a ORDER BY rev DESC, p)
           AS rank_ap,
         0 AS rej
  FROM base
"""

# one GS round over state t(p, a, qty, rev, rank_pa, rank_ap, rej):
# propose -> hold -> monotone rejection update
_GS_ROUND = """
{tgt} AS MATERIALIZED (
  SELECT p, MIN(CASE WHEN rej = 0 THEN rank_pa END) AS best
  FROM {t} GROUP BY p),
{hold} AS MATERIALIZED (
  SELECT t.a, MIN(t.rank_ap) AS keep
  FROM {t} t JOIN {tgt} g ON t.p = g.p AND t.rank_pa = g.best
  WHERE t.rej = 0 GROUP BY t.a),
{nxt} AS MATERIALIZED (
  SELECT t.p, t.a, t.qty, t.rev, t.rank_pa, t.rank_ap,
         CASE WHEN t.rej = 1 OR (t.rank_pa = g.best AND t.rej = 0
                                 AND t.rank_ap > h.keep)
              THEN 1 ELSE 0 END AS rej
  FROM {t} t
  JOIN {tgt} g ON t.p = g.p
  LEFT JOIN {hold} h ON t.a = h.a)"""

_GS_FINAL = """
SELECT t.p, t.a, t.qty, t.rev,
       CAST(t.rank_pa AS BIGINT) AS rank_pa,
       CAST(t.rank_ap AS BIGINT) AS rank_ap
FROM {t} t
JOIN (SELECT p, MIN(CASE WHEN rej = 0 THEN rank_pa END) AS best
      FROM {t} GROUP BY p) g ON t.p = g.p AND t.rank_pa = g.best
JOIN (SELECT t2.a, MIN(t2.rank_ap) AS keep
      FROM {t} t2
      JOIN (SELECT p, MIN(CASE WHEN rej = 0 THEN rank_pa END) AS best
            FROM {t} GROUP BY p) g2
        ON t2.p = g2.p AND t2.rank_pa = g2.best
      WHERE t2.rej = 0 GROUP BY t2.a) h
  ON t.a = h.a AND t.rank_ap = h.keep
WHERE t.rej = 0
"""


def q_stable_matching(spark, sf_dir):
    from pyspark.sql import functions as F
    for name in ("lineitem", "orders"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    t = spark.sql(f"WITH base AS ({_GS_BASE}) SELECT * FROM "
                  f"({_GS_RANKED}) r").localCheckpoint()
    t.createOrReplaceTempView("gs_t0")
    for r in range(GS_ROUNDS):
        nxt = spark.sql(
            "WITH " + _GS_ROUND.replace(" AS MATERIALIZED", "").format(
                t=f"gs_t{r}", tgt="tg", hold="hd", nxt="nx")
            + " SELECT * FROM nx").localCheckpoint()
        nxt.createOrReplaceTempView(f"gs_t{r + 1}")
    return spark.sql(_GS_FINAL.format(t=f"gs_t{GS_ROUNDS}"))


def _oracle_stable_matching() -> str:
    parts = [f"base AS MATERIALIZED ({_GS_BASE})",
             f"t0 AS MATERIALIZED ({_GS_RANKED})"]
    for r in range(GS_ROUNDS):
        parts.append(_GS_ROUND.format(
            t=f"t{r}", tgt=f"g{r}", hold=f"h{r}", nxt=f"t{r + 1}"))
    return ("WITH " + ",".join(parts) + "\n"
            + _GS_FINAL.format(t=f"t{GS_ROUNDS}"))


QUERIES.update({
    "stable_matching": (q_stable_matching, _oracle_stable_matching()),
})


# --- brier_decomposition: Murphy reliability/resolution/uncertainty -----------
#
# The probabilistic-forecast eval (weather/CTR/risk models) next to
# calibration_bins (which gates the reliability DIAGRAM; this gates the
# Murphy DECOMPOSITION of the Brier score): 10 fixed decile bins,
# REL = (1/N)*sum_k n_k*(pbar_k - obar_k)^2,
# RES = (1/N)*sum_k n_k*(obar_k - obar)^2, UNC = obar*(1-obar), plus
# the directly-computed BS = mean((p-y)^2) from an EXACT int64 sum of
# (p_pct - 100y)^2.  Float determinism is the bm25 SLOT-PIVOT rule: ONE
# corpus aggregation produces 30 conditional integer sums (bins are
# pure integer-range predicates — no division), and every float term
# composes those slots in one literal expression with a FIXED textual
# order.  The forecast is deliberately miscalibrated (true rate =
# 0.8p + 10%), so REL provably gates something.

_BRIER_NBIN = 10


def _brier_base_sql() -> str:
    from .hashing import mix_sql
    return (f"SELECT ({mix_sql('o_orderkey * 7 + 1')}) % 100 AS p_pct, "
            f"CASE WHEN ({mix_sql('o_orderkey * 7 + 2')}) % 100 < "
            f"((({mix_sql('o_orderkey * 7 + 1')}) % 100) * 8) DIV 10 + 10 "
            f"THEN 1 ELSE 0 END AS y FROM orders")


def _brier_sql(div: str) -> str:
    base = _brier_base_sql().replace(" DIV ", f" {div} ")
    slots = []
    for k in range(_BRIER_NBIN):
        lo, hi = 10 * k, 10 * k + 10
        inb = f"p_pct >= {lo} AND p_pct < {hi}"
        slots += [
            f"CAST(SUM(CASE WHEN {inb} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n{k}",
            f"CAST(SUM(CASE WHEN {inb} THEN p_pct ELSE 0 END) AS BIGINT)"
            f" AS sp{k}",
            f"CAST(SUM(CASE WHEN {inb} THEN y ELSE 0 END) AS BIGINT)"
            f" AS so{k}",
        ]
    agg = (f"SELECT {', '.join(slots)}, "
           "CAST(SUM((p_pct - 100 * y) * (p_pct - 100 * y)) AS BIGINT)"
           " AS sq, CAST(COUNT(*) AS BIGINT) AS n,"
           " CAST(SUM(y) AS BIGINT) AS so FROM base")
    obar = "(CAST(so AS DOUBLE) / n)"
    rel_terms = " + ".join(
        f"(CASE WHEN n{k} > 0 THEN "
        f"(CAST(sp{k} AS DOUBLE) / CAST(100 AS DOUBLE) - so{k}) "
        f"* (CAST(sp{k} AS DOUBLE) / CAST(100 AS DOUBLE) - so{k}) / n{k} "
        f"ELSE CAST(0 AS DOUBLE) END)" for k in range(_BRIER_NBIN))
    res_terms = " + ".join(
        f"(CASE WHEN n{k} > 0 THEN "
        f"(CAST(so{k} AS DOUBLE) / n{k} - {obar}) "
        f"* (CAST(so{k} AS DOUBLE) / n{k} - {obar}) * n{k} "
        f"ELSE CAST(0 AS DOUBLE) END)" for k in range(_BRIER_NBIN))
    return f"""
WITH base AS ({base}),
s AS ({agg})
SELECT n, so,
       ROUND(({rel_terms}) / n, 6) AS reliability,
       ROUND(({res_terms}) / n, 6) AS resolution,
       ROUND({obar} * (1.0 - {obar}), 6) AS uncertainty,
       ROUND(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE)
             * CAST(10000 AS DOUBLE)), 6) AS brier
FROM s
"""


def q_brier_decomposition(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_brier_sql("DIV"))


ORACLE_BRIER = _brier_sql("//")


QUERIES.update({
    "brier_decomposition": (q_brier_decomposition, ORACLE_BRIER),
})


# --- cross_track_distance: XTD/ATD off a great-circle leg ---------------------
#
# The remaining aviation-formulary primitive after rhumb_lines
# (loxodrome), geodesic_waypoints (slerp) and impossible_travel
# (haversine speed): for each intermediate fix P of a user's
# trajectory, the signed CROSS-TRACK distance off the A->B great
# circle (xtd = asin(sin d13 * sin(th13 - th12))) and the ALONG-TRACK
# distance (atd = acos(cos d13 / cos xtd)) — route-adherence /
# corridor-violation analytics.  Staged-trig discipline: every float
# op appears in ONE literal sequence shared verbatim with the oracle,
# ROUND(...,6); degenerate fixes (P = A, or a closed A = B leg) are
# excluded by INTEGER microdegree predicates, never float thresholds;
# acos/asin arguments clamp identically.  Plan: one user-keyed shuffle
# (three windows share it), pure codegen trig after.

def q_cross_track_distance(spark, sf_dir):
    from . import fixtures
    e = _t(spark, sf_dir, "events")
    lon, lat = fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL
    pts = (e.where(F.col("user_id") % WAYPOINT_MOD == 0)
           .selectExpr("user_id", "ts", "event_id",
                       f"{lon} AS lon", f"{lat} AS lat",
                       f"CAST(FLOOR({lon} * 1000000.0) AS BIGINT) AS ilon",
                       f"CAST(FLOOR({lat} * 1000000.0) AS BIGINT) AS ilat"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    s = (pts.withColumn("rn", F.row_number().over(w))
         .withColumn("alon", F.first("lon").over(wf))
         .withColumn("alat", F.first("lat").over(wf))
         .withColumn("ailon", F.first("ilon").over(wf))
         .withColumn("ailat", F.first("ilat").over(wf))
         .withColumn("blon", F.last("lon").over(wf))
         .withColumn("blat", F.last("lat").over(wf))
         .withColumn("bilon", F.last("ilon").over(wf))
         .withColumn("bilat", F.last("ilat").over(wf))
         .where("rn > 1 AND (ilon != ailon OR ilat != ailat) "
                "AND (bilon != ailon OR bilat != ailat)"))
    s1 = s.selectExpr(
        "user_id", "rn", "RADIANS(alat) AS f1", "RADIANS(lat) AS f3",
        "RADIANS(blat) AS f2", "RADIANS(lon - alon) AS dl13",
        "RADIANS(blon - alon) AS dl12")
    s2 = s1.selectExpr(
        "user_id", "rn", "f1", "f3",
        "2.0 * ASIN(SQRT(SIN((f3 - f1) / 2.0) * SIN((f3 - f1) / 2.0) "
        "+ COS(f1) * COS(f3) * SIN(dl13 / 2.0) * SIN(dl13 / 2.0))) "
        "AS d13",
        "ATAN2(SIN(dl13) * COS(f3), "
        "COS(f1) * SIN(f3) - SIN(f1) * COS(f3) * COS(dl13)) AS th13",
        "ATAN2(SIN(dl12) * COS(f2), "
        "COS(f1) * SIN(f2) - SIN(f1) * COS(f2) * COS(dl12)) AS th12")
    s3 = s2.selectExpr(
        "user_id", "rn", "d13",
        "ASIN(GREATEST(CAST(-1 AS DOUBLE), LEAST(CAST(1 AS DOUBLE), "
        "SIN(d13) * SIN(th13 - th12)))) AS xtd")
    return s3.selectExpr(
        "user_id", "CAST(rn AS BIGINT) AS pt_idx",
        "ROUND(xtd * 6371.0088, 6) AS xtd_km",
        "ROUND(ACOS(GREATEST(CAST(-1 AS DOUBLE), LEAST(CAST(1 AS DOUBLE),"
        " COS(d13) / COS(xtd)))) * 6371.0088, 6) AS atd_km")


def _oracle_cross_track() -> str:
    from . import fixtures
    lon, lat = fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL
    return f"""
WITH pts AS (
  SELECT user_id, ts, event_id, {lon} AS lon, {lat} AS lat,
         CAST(FLOOR({lon} * 1000000.0) AS BIGINT) AS ilon,
         CAST(FLOOR({lat} * 1000000.0) AS BIGINT) AS ilat
  FROM events WHERE user_id % {WAYPOINT_MOD} = 0),
s AS (
  SELECT * FROM (
    SELECT user_id, lon, lat, ilon, ilat,
           ROW_NUMBER() OVER w AS rn,
           FIRST_VALUE(lon) OVER wf AS alon,
           FIRST_VALUE(lat) OVER wf AS alat,
           FIRST_VALUE(ilon) OVER wf AS ailon,
           FIRST_VALUE(ilat) OVER wf AS ailat,
           LAST_VALUE(lon) OVER wf AS blon,
           LAST_VALUE(lat) OVER wf AS blat,
           LAST_VALUE(ilon) OVER wf AS bilon,
           LAST_VALUE(ilat) OVER wf AS bilat
    FROM pts
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           wf AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING
                  AND UNBOUNDED FOLLOWING)) t
  WHERE rn > 1 AND (ilon != ailon OR ilat != ailat)
    AND (bilon != ailon OR bilat != ailat)),
s1 AS (
  SELECT user_id, rn, RADIANS(alat) AS f1, RADIANS(lat) AS f3,
         RADIANS(blat) AS f2, RADIANS(lon - alon) AS dl13,
         RADIANS(blon - alon) AS dl12
  FROM s),
s2 AS (
  SELECT user_id, rn, f1, f3,
         2.0 * ASIN(SQRT(SIN((f3 - f1) / 2.0) * SIN((f3 - f1) / 2.0)
         + COS(f1) * COS(f3) * SIN(dl13 / 2.0) * SIN(dl13 / 2.0)))
           AS d13,
         ATAN2(SIN(dl13) * COS(f3),
         COS(f1) * SIN(f3) - SIN(f1) * COS(f3) * COS(dl13)) AS th13,
         ATAN2(SIN(dl12) * COS(f2),
         COS(f1) * SIN(f2) - SIN(f1) * COS(f2) * COS(dl12)) AS th12
  FROM s1),
s3 AS (
  SELECT user_id, rn, d13,
         ASIN(GREATEST(CAST(-1 AS DOUBLE), LEAST(CAST(1 AS DOUBLE),
         SIN(d13) * SIN(th13 - th12)))) AS xtd
  FROM s2)
SELECT user_id, CAST(rn AS BIGINT) AS pt_idx,
       ROUND(xtd * 6371.0088, 6) AS xtd_km,
       ROUND(ACOS(GREATEST(CAST(-1 AS DOUBLE), LEAST(CAST(1 AS DOUBLE),
             COS(d13) / COS(xtd)))) * 6371.0088, 6) AS atd_km
FROM s3
"""


QUERIES.update({
    "cross_track_distance": (q_cross_track_distance,
                             _oracle_cross_track()),
})


# --- sax_words: symbolic aggregate approximation of hourly series --------------
#
# SAX (Lin/Keogh) — the time-series symbolization every motif/anomaly
# miner downstream of matrix_profile_hourly consumes: per event type,
# the hourly cents series z-normalizes and 4-hour PAA segments map to a
# 4-letter alphabet at the N(0,1) quartile breakpoints.  Determinism:
# segment sums and series moments are exact (int64 + DECIMAL square),
# z is ONE literal float expression — z = (n*pv - sp)/sqrt(n*spp -
# sp^2) — shared verbatim, and the breakpoint comparisons test
# identical doubles against identical literals, so the LETTER is
# engine-exact, not just the rounded z.  Only complete 4-hour windows
# gate (integer predicate).

SAX_BP = 0.6744897501960817        # Phi^-1(0.75): N(0,1) quartiles
SAX_SEG = 4

_SAX_SERIES = """
  SELECT event_type AS g,
         CAST(FLOOR({epoch_us} / 3600000000.0) AS BIGINT) AS h,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS y
  FROM events GROUP BY 1, 2
"""

_SAX_SQL = """
WITH series AS ({series}),
base AS (
  SELECT g, MIN(h) AS h0,
         (MAX(h) - MIN(h) + 1) {div} {seg} AS nseg
  FROM series GROUP BY 1),
-- PAA over the DENSE hourly spine: a missing hour is zero activity, so
-- segment sums over present hours equal the dense sums, and the series
-- moments (sums of pv and pv^2) are exact with n = nseg full segments;
-- only segments with activity emit rows (zero-activity segments would
-- all share the letter of z(0))
segs AS (
  SELECT series.g, (h - h0) {div} {seg} AS seg,
         CAST(SUM(y) AS BIGINT) AS pv, MIN(nseg) AS nseg
  FROM series JOIN base ON series.g = base.g
  GROUP BY 1, 2),
m AS (
  SELECT g, CAST(MIN(nseg) AS BIGINT) AS n,
         CAST(SUM(pv) AS BIGINT) AS sp,
         SUM(CAST(pv AS DECIMAL(38, 0)) * pv) AS spp
  FROM segs WHERE seg < nseg GROUP BY 1),
z AS (
  SELECT segs.g, seg, pv,
         (CAST(n AS DOUBLE) * pv - CAST(sp AS DOUBLE))
         / SQRT(CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp) AS zv
  FROM segs JOIN m ON segs.g = m.g
  WHERE seg < segs.nseg
    AND CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp > 0.0)
SELECT g AS event_type, CAST(seg AS BIGINT) AS seg,
       CAST(pv AS BIGINT) AS paa_cents, ROUND(zv, 6) AS z,
       CASE WHEN zv < -{bp!r} THEN 'a' WHEN zv < 0.0 THEN 'b'
            WHEN zv < {bp!r} THEN 'c' ELSE 'd' END AS letter
FROM z
"""


def q_sax_words(spark, sf_dir):
    # the hourly series is a TINY aggregate (hours x types) referenced
    # by three downstream stages — localCheckpoint it so the plain-CTE
    # chain does not re-scan the corpus per reference (2 scans / 7
    # exchanges in the one-SQL form; 1 scan / 4 after)
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    series = spark.sql(_SAX_SERIES.format(
        epoch_us="unix_micros(CAST(ts AS TIMESTAMP_LTZ))"))
    series.localCheckpoint().createOrReplaceTempView("sax_series")
    return spark.sql(_SAX_SQL.format(
        series="SELECT * FROM sax_series",
        div="DIV", seg=SAX_SEG, bp=SAX_BP))


ORACLE_SAX = _SAX_SQL.format(
    series=_SAX_SERIES.format(epoch_us="epoch_us(ts)"),
    div="//", seg=SAX_SEG, bp=SAX_BP)


# --- dp_exponential_choice: the exponential mechanism -------------------------
#
# Completes the differential-privacy mechanism family (central
# discrete-Laplace dp_noisy_counts, local randomized_response): pick
# the "best" event type under eps-DP via the exponential mechanism in
# its Gumbel-max form — score = eps*u/2 + Gumbel(0,1), the Gumbel
# derandomized from the repo hash as -ln(-ln(u01)) (u01 in (0,1), so
# both logs are finite).  Utility u = the type's average value in
# whole dollars (exact integer division), eps sized so the noise
# genuinely competes with the utility gap.  Every float lives in one
# literal staged expression; the winner is an injective packed argmax
# over the 5-row alphabet.

DPX_EPS = 0.02
DPX_Q = 1_000_000


def _dpx_sql(div: str) -> str:
    from .hashing import u01_sql
    ti = ("CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 "
          "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END")
    g = f"-LN(-LN({u01_sql('ti * 977 + 13')}))"
    score = (f"CAST(FLOOR((CAST({DPX_EPS!r} AS DOUBLE) * u / 2.0 "
             f"+ ({g})) * {DPX_Q}.0 + 0.5) AS BIGINT)")
    return f"""
WITH agg AS (
  SELECT {ti} AS ti, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sv
  FROM events GROUP BY 1, 2),
util AS (
  SELECT ti, event_type, n, sv {div} (100 * n) AS u FROM agg),
scored AS (
  SELECT ti, event_type, n, u, {score} AS score_q FROM util),
best AS (SELECT MAX(score_q * 8 + (7 - ti)) AS bp FROM scored)
SELECT event_type, CAST(ti AS BIGINT) AS ti, n, CAST(u AS BIGINT) AS u,
       score_q,
       CAST(CASE WHEN score_q * 8 + (7 - ti) = bp THEN 1 ELSE 0 END
            AS INT) AS chosen
FROM scored, best
"""


def q_dp_exponential_choice(spark, sf_dir):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_dpx_sql("DIV"))


ORACLE_DPX = _dpx_sql("//")


QUERIES.update({
    "sax_words": (q_sax_words, ORACLE_SAX),
    "dp_exponential_choice": (q_dp_exponential_choice, ORACLE_DPX),
})


# --- audio_agc_gain: peak-normalization gain over real WAV decode -------------
#
# The first gated audio TRANSFORM (the analysis family: clipping, ZCR,
# silence, pitch, spectral peak): automatic gain control computes the
# per-stream peak from the REAL RIFF/WAV decode, an integer gain
# gain_q = (TARGET * 1024) DIV peak, and the normalized-sample stats
# (post-gain peak, |x| mass, position-weighted checksum) — every value
# exact int64 because the gain stays a DIV-composed integer and the
# synthesis level multiplier (2 + i % 5) keeps raw samples inside
# int16, so encode->decode is the identity the oracle replays.

N_AGC_WAV = 48
AGC_TARGET = 30000


def q_audio_agc(spark, sf_dir, n_streams: int = N_AGC_WAV,
                partitions: int = 4):
    from . import riff

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("gain_q", T.LongType()),
        T.StructField("peak_norm", T.LongType()),
        T.StructField("sum_abs_norm", T.LongType()),
        T.StructField("norm_checksum", T.LongType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                n = 1024 + (i * 256) % 1281
                k = np.arange(n, dtype=np.int64)
                u = (i * 48271 + (k // 8) * 16807) % 65536
                s = (((u % 7000) - 3500) * (2 + i % 5)).astype(np.int16)
                wav, rate = riff.wav_decode(riff.wav_encode(s, 16000))
                got = np.round(wav[:, 0].astype(np.float64)
                               * 32768.0).astype(np.int64)
                assert rate == 16000 and len(got) == n
                peak = int(np.abs(got).max())
                gain_q = (AGC_TARGET * 1024) // peak
                norm = (got * gain_q) // 1024
                rows.append((f"wav{i:03d}", n, peak, gain_q,
                             int(np.abs(norm).max()),
                             int(np.abs(norm).sum()),
                             int(((k + 1) * norm).sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, n_streams, numPartitions=partitions)
            .mapInPandas(work, schema))


def _oracle_agc() -> str:
    samp = ("((((i * 48271 + (k // 8) * 16807) % 65536) % 7000 - 3500)"
            " * (2 + i % 5))")
    return f"""
WITH ids AS (
  SELECT i, 1024 + (i * 256) % 1281 AS n
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_AGC_WAV - 1})) AS i) t),
s AS MATERIALIZED (
  SELECT i, n, kk.k, {samp} AS v
  FROM ids,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, n - 1)) AS k) kk),
pk AS MATERIALIZED (
  SELECT i, n, CAST(MAX(ABS(v)) AS BIGINT) AS peak FROM s
  GROUP BY 1, 2),
g AS (
  SELECT i, n, peak,
         ({AGC_TARGET} * 1024) // peak AS gain_q
  FROM pk),
nrm AS (
  SELECT s.i, g.n, g.peak, g.gain_q,
         CASE WHEN s.v * g.gain_q >= 0
              THEN (s.v * g.gain_q) // 1024
              ELSE -((-(s.v * g.gain_q)) // 1024)
              - CASE WHEN (-(s.v * g.gain_q)) % 1024 > 0
                     THEN 1 ELSE 0 END
         END AS nv, s.k
  FROM s JOIN g ON g.i = s.i)
SELECT CONCAT('wav', LPAD(CAST(i AS VARCHAR), 3, '0')) AS media_id,
       CAST(n AS BIGINT) AS n_samples, peak,
       CAST(gain_q AS BIGINT) AS gain_q,
       CAST(MAX(ABS(nv)) AS BIGINT) AS peak_norm,
       CAST(SUM(ABS(nv)) AS BIGINT) AS sum_abs_norm,
       CAST(SUM((k + 1) * nv) AS BIGINT) AS norm_checksum
FROM nrm GROUP BY 1, 2, 3, 4
"""


QUERIES.update({
    "audio_agc_gain": (q_audio_agc, _oracle_agc()),
})


# --- chaikin_smooth: corner-cutting path smoothing ----------------------------
#
# Chaikin's algorithm (the cartographic / graphics line smoother, the
# subdivision-curve ancestor): each round replaces every segment
# (P, N) with the quarter points Q = (3P+N)/4 and R = (P+3N)/4.  Two
# rounds unrolled EXACTLY in integers: coordinates scale x4 per round
# (microdegrees x16 after two rounds), so Q and R are pure int64 sums
# — no division ever happens and the gate is bit-exact.  Paths are the
# first 5 fixes of sampled users; each round is ONE lead window + a
# 2-way ordered explode (posexplode keeps the point order integer).

CHAIKIN_PTS = 5
CHAIKIN_ROUNDS = 2

_CHAIKIN_SQL = """
WITH pts AS (
  SELECT user_id, ts, event_id,
         CAST(FLOOR(({lon}) * 1000000.0) AS BIGINT) AS x,
         CAST(FLOOR(({lat}) * 1000000.0) AS BIGINT) AS y
  FROM events WHERE user_id % {mod} = 1),
path0 AS (
  SELECT user_id, rn - 1 AS idx, x * 1 AS px, y * 1 AS py FROM (
    SELECT user_id, x, y,
           ROW_NUMBER() OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS rn
    FROM pts) t WHERE rn <= {pts}),
{rounds}
SELECT user_id, CAST(idx AS BIGINT) AS idx,
       CAST(px AS BIGINT) AS x16, CAST(py AS BIGINT) AS y16
FROM path{nr}
"""

_CHAIKIN_ROUND = """
seg{r} AS (
  SELECT user_id, idx, px, py,
         LEAD(px) OVER w AS nx, LEAD(py) OVER w AS ny,
         ROW_NUMBER() OVER w - 1 AS sidx
  FROM path{p}
  WINDOW w AS (PARTITION BY user_id ORDER BY idx)),
path{r} AS (
  SELECT user_id, sidx * 2 AS idx,
         3 * px + nx AS px, 3 * py + ny AS py
  FROM seg{r} WHERE nx IS NOT NULL
  UNION ALL
  SELECT user_id, sidx * 2 + 1 AS idx,
         px + 3 * nx AS px, py + 3 * ny AS py
  FROM seg{r} WHERE nx IS NOT NULL)"""


def _chaikin_sql() -> str:
    from . import fixtures
    rounds = ",".join(
        _CHAIKIN_ROUND.format(r=r, p=r - 1)
        for r in range(1, CHAIKIN_ROUNDS + 1))
    return _CHAIKIN_SQL.format(
        lon=fixtures.EVENT_LON_SQL, lat=fixtures.EVENT_LAT_SQL,
        mod=WAYPOINT_MOD, pts=CHAIKIN_PTS, rounds=rounds,
        nr=CHAIKIN_ROUNDS)


def q_chaikin_smooth(spark, sf_dir):
    # per-round materialization: each round's UNION references its
    # window stage TWICE, so the one-SQL chain re-expands 2^rounds
    # times (4 corpus scans at 2 rounds — caught by the plan pin); the
    # sampled path table is tiny, so localCheckpoint per round keeps
    # ONE corpus scan + one rank exchange
    from . import fixtures
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    path = spark.sql(f"""
SELECT user_id, rn - 1 AS idx, x * 1 AS px, y * 1 AS py FROM (
  SELECT user_id,
         CAST(FLOOR(({fixtures.EVENT_LON_SQL}) * 1000000.0) AS BIGINT)
           AS x,
         CAST(FLOOR(({fixtures.EVENT_LAT_SQL}) * 1000000.0) AS BIGINT)
           AS y,
         ROW_NUMBER() OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id % {WAYPOINT_MOD} = 1) t
WHERE rn <= {CHAIKIN_PTS}""").localCheckpoint()
    for _ in range(CHAIKIN_ROUNDS):
        path.createOrReplaceTempView("ch_path")
        path = spark.sql("""
WITH seg AS (
  SELECT user_id, px, py, LEAD(px) OVER w AS nx, LEAD(py) OVER w AS ny,
         ROW_NUMBER() OVER w - 1 AS sidx
  FROM ch_path
  WINDOW w AS (PARTITION BY user_id ORDER BY idx))
SELECT user_id, sidx * 2 AS idx, 3 * px + nx AS px, 3 * py + ny AS py
FROM seg WHERE nx IS NOT NULL
UNION ALL
SELECT user_id, sidx * 2 + 1 AS idx, px + 3 * nx AS px,
       py + 3 * ny AS py
FROM seg WHERE nx IS NOT NULL""").localCheckpoint()
    return path.selectExpr("user_id", "CAST(idx AS BIGINT) AS idx",
                           "CAST(px AS BIGINT) AS x16",
                           "CAST(py AS BIGINT) AS y16")


QUERIES.update({
    "chaikin_smooth": (q_chaikin_smooth, _chaikin_sql()),
})


# --- ucb_allocation: UCB1 bandit arm selection --------------------------------
#
# The batch-bandit allocator (the exploration side of the
# experimentation family — ab_test/group_sequential test, CUPED
# adjusts, UCB explores): arms are event types, pulls are events,
# rewards are value cents; UCB1 = mean + sqrt(2 ln N / n) with the
# mean an exact integer division (cents DIV pulls, dollars scale) and
# the exploration bonus under ROUND-6 LN (the repo's tfidf rule); the
# next batch goes to the packed-argmax arm.  One map-side aggregation.

UCB_Q = 1_000_000


def _ucb_sql(div: str) -> str:
    ti = ("CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 "
          "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END")
    mean_d = f"(sv {div} (100 * n))"
    bonus = ("SQRT(2.0 * ROUND(LN(CAST(tot AS DOUBLE)), 6) "
             "/ CAST(n AS DOUBLE))")
    score = (f"CAST(FLOOR((CAST({mean_d} AS DOUBLE) + {bonus}) "
             f"* {UCB_Q} + 0.5) AS BIGINT)")
    return f"""
WITH agg AS (
  SELECT {ti} AS ti, event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sv
  FROM events GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM agg),
scored AS (
  SELECT ti, event_type, n, {mean_d} AS mean_dollars,
         {score} AS ucb_q
  FROM agg, tot),
best AS (SELECT MAX(ucb_q * 8 + (7 - ti)) AS bp FROM scored)
SELECT event_type, CAST(ti AS BIGINT) AS ti, n,
       CAST(mean_dollars AS BIGINT) AS mean_dollars, ucb_q,
       CAST(CASE WHEN ucb_q * 8 + (7 - ti) = bp THEN 1 ELSE 0 END
            AS INT) AS chosen
FROM scored, best
"""


def q_ucb_allocation(spark, sf_dir):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ucb_sql("DIV"))


ORACLE_UCB = _ucb_sql("//")


QUERIES.update({
    "ucb_allocation": (q_ucb_allocation, ORACLE_UCB),
})
