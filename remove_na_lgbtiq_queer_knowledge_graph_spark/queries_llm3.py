"""Round-8 LLM-pipeline training queries: distributed BPE tokenizer
training, relational logistic-regression training, and SemDeDup
semantic deduplication — the "train the data tools ON the cluster"
tier above the dedup/decontamination stack in queries_llm/llm2.

Every query's DuckDB oracle unrolls the same fixed iteration count as
chained CTEs (the Lloyd's/PageRank-oracle idiom), so the full training
TRAJECTORY is hash-checked cross-engine, not just the final artifact.

Scale notes (the 100 TB contract per op):

- BPE: corpus scanned once into the word-frequency table; every merge
  iteration aggregates over the VOCABULARY, never the corpus; the only
  driver traffic is the argmax row per merge (the rule itself).
- Logistic regression: each gradient step is one map-side-combinable
  aggregate; d+2 numbers cross the wire per step (Chu et al. 2007).
- SemDeDup: bounded-sample k-means fit, one shuffle-free full-corpus
  assignment, pair join blocked by cell id (raise n_centroids with
  corpus size; Abbas et al. 2023 run tens of thousands of clusters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.numeric import round_half_away_col
from pyspark.sql import Window as W

from .queries_llm2 import _WORDS_DUCK, _WORDS_SPARK, _kmeans_fit_ctes
from .spec import QuerySpec, memo_get, t
from .spec import materialize as _cache

# ---------------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al. 2016), N fixed merges
# ---------------------------------------------------------------------------

_BPE_N = 8


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word-frequency table — the ONE corpus-sized scan in the
    BPE path; everything after runs at vocabulary scale."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.expr(_WORDS_SPARK)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


# Session-scoped fit memos: the train and apply queries of one model
# share one fit; the sweep/bench run them back to back.  Keyed like
# spec.t()'s table memo (applicationId + source mtime) so a regenerated
# session — or regenerated testdata — refits instead of serving a
# stale model.  One mechanism for every trained artifact here.
_FIT_MEMOS: dict[tuple, object] = {}


def _src_mtime(sf_dir: str) -> float | None:
    import os

    try:
        return os.path.getmtime(os.path.join(sf_dir, "documents.parquet"))
    except OSError:
        return None


def _fit_memo(spark: SparkSession, sf_dir: str, tag: object, fit):
    """Memoize ``fit()`` under (applicationId, sf_dir, source mtime,
    tag).  Bounded; eviction drops the Python reference, which frees
    any localCheckpoint blocks via the ContextCleaner."""
    key = (spark.sparkContext.applicationId, sf_dir, _src_mtime(sf_dir),
           tag)
    return memo_get(_FIT_MEMOS, key, fit, cap=16)


def _bpe_fit_memo(spark: SparkSession, sf_dir: str):
    from .operators.bpe import bpe_fit

    return _fit_memo(
        spark, sf_dir, ("bpe", _BPE_N),
        lambda: bpe_fit(_word_counts(spark, sf_dir), _BPE_N))


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 8 BPE merge rules over the documents corpus; one row per
    learned rule — (step, lsym, rsym, merged, pair count) — so the
    oracle checks the whole merge TRAJECTORY (a divergence at merge 3
    shifts every later row)."""
    _, merges = _bpe_fit_memo(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "step long, lsym string, rsym string, merged string, n long",
    )


def bpe_vocab_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency table under the trained BPE merges —
    encode-by-vocabulary: applying the merges to the word table and
    re-weighting by word count is exactly encoding every document
    (same tokens, same multiplicities), without touching the corpus
    a second time."""
    final, _ = _bpe_fit_memo(spark, sf_dir)
    return (
        final.select(F.explode(F.split("s", " ")).alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").cast("long").alias("n"))
    )


def _bpe_ctes(n: int) -> str:
    parts = [f"""
WITH words AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest({_WORDS_DUCK}) AS word FROM documents
  ) GROUP BY word
), w0 AS MATERIALIZED (
  SELECT word, regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>' AS s,
         cnt
  FROM words
)"""]
    for i in range(1, n + 1):
        parts.append(f""", p{i} AS MATERIALIZED (
  SELECT l[j] AS lsym, l[j + 1] AS rsym, sum(cnt) AS c
  FROM (SELECT string_split(s, ' ') AS l, cnt FROM w{i - 1}) t,
       unnest(range(1, len(l))) AS u(j)
  GROUP BY 1, 2
), b{i} AS MATERIALIZED (
  SELECT lsym, rsym, c FROM p{i} ORDER BY c DESC, lsym, rsym LIMIT 1
), w{i} AS MATERIALIZED (
  SELECT word, trim(replace(replace(
           ' ' || replace(s, ' ', '  ') || ' ',
           (SELECT ' ' || lsym || '  ' || rsym || ' ' FROM b{i}),
           (SELECT ' ' || lsym || rsym || ' ' FROM b{i})),
         '  ', ' ')) AS s, cnt
  FROM w{i - 1}
)""")
    return "".join(parts)


_BPE_MERGES_SQL = _bpe_ctes(_BPE_N) + "\n" + "\nUNION ALL\n".join(
    f"SELECT CAST({i} AS BIGINT) AS step, lsym, rsym, "
    f"lsym || rsym AS merged, CAST(c AS BIGINT) AS n FROM b{i}"
    for i in range(1, _BPE_N + 1)
)

_BPE_VOCAB_SQL = _bpe_ctes(_BPE_N) + f"""
SELECT token, CAST(sum(cnt) AS BIGINT) AS n FROM (
  SELECT unnest(string_split(s, ' ')) AS token, cnt FROM w{_BPE_N}
) GROUP BY token"""


def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document under the trained tokenizer: the final
    symbol table IS the word→tokenization map, so encoding is the
    corpus word stream LEFT-joined to a BROADCAST vocabulary frame — no
    per-document merge replay, no UDF.  Words absent from the training
    map (possible when the op is pointed at documents outside the
    training corpus; never for this self-trained registry entry) fall
    back to character-level encoding — len(word)+1 symbols, the merge-
    free base segmentation — instead of being silently dropped from
    both counts (round-8 ADVICE).  Output: per-doc word and BPE-token
    counts (the trained-tokenizer token budget, vs text_token_counts'
    untrained heuristics)."""
    final, _ = _bpe_fit_memo(spark, sf_dir)
    tokmap = final.select(
        "word", F.size(F.split("s", " ")).cast("long").alias("n_tok"))
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.expr(_WORDS_SPARK)).alias("word"))
        .join(F.broadcast(tokmap), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.coalesce(
                F.col("n_tok"),
                F.length("word").cast("long") + F.lit(1),
            )).cast("long").alias("n_tokens"),
        )
    )


_BPE_ENCODE_SQL = _bpe_ctes(_BPE_N) + f"""
SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(COALESCE(len(string_split(w{_BPE_N}.s, ' ')),
                         len(d.word) + 1)) AS BIGINT) AS n_tokens
FROM (SELECT doc_id, unnest({_WORDS_DUCK}) AS word FROM documents) d
LEFT JOIN w{_BPE_N} USING (word)
GROUP BY d.doc_id"""


# ---------------------------------------------------------------------------
# Logistic-regression quality classifier (full-batch GD, 5 steps)
# ---------------------------------------------------------------------------

_LR_STEPS = 5


def _lr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, x1, x2): label = lang=='en'; features are exactly
    computable on both engines — words/100 (exact rational) and the
    type-token ratio (identical IEEE division, rounded to 6 dp)."""
    docs = t(spark, sf_dir, "documents")
    w = F.expr(_WORDS_SPARK)
    return (
        docs.select(
            "doc_id",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            w.alias("w"),
        )
        .filter(F.size("w") > 0)
        .select(
            "doc_id", "y",
            (F.size("w").cast("double") / F.lit(100.0)).alias("x1"),
            round_half_away_col(
                F.size(F.array_distinct("w")).cast("double")
                / F.size("w").cast("double"), 6,
            ).alias("x2"),
        )
    )


def _lr_train_memo(spark: SparkSession, sf_dir: str):
    from .operators.linear import logreg_train_rounds

    def fit():
        feats = _lr_features(spark, sf_dir).persist()
        out = logreg_train_rounds(feats, ["x1", "x2"], "y",
                                  steps=_LR_STEPS)
        feats.unpersist()
        return out

    return _fit_memo(spark, sf_dir, ("logreg", _LR_STEPS), fit)


def lr_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a logistic-regression language classifier (is the doc
    English?) on two exactly-computable text features — words/100 and
    the type-token ratio — via 5 full-batch gradient steps, each ONE
    map-side-combinable aggregate (see operators/linear.py for the
    cross-engine float discipline).  Output: the training curve —
    (step, weights used, decision-rule hits) per step."""
    rows, _ = _lr_train_memo(spark, sf_dir)
    return spark.createDataFrame(
        [(s, wts[0], wts[1], wts[2], ok) for s, wts, ok in rows],
        "step long, w0 double, w1 double, w2 double, n_correct long",
    )


def lr_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference half of the train→filter loop: apply the FINAL
    trained weights (after all T updates — the oracle's s{T} CTE) to
    every document: one embarrassingly-parallel codegen pass, the
    shape that scores a 100 TB corpus (the model is three literals in
    the plan; nothing but the scan moves)."""
    _, w_final = _lr_train_memo(spark, sf_dir)
    feats = _lr_features(spark, sf_dir)
    z = F.lit(w_final[0]) \
        + F.lit(w_final[1]) * F.col("x1") \
        + F.lit(w_final[2]) * F.col("x2")
    p = round_half_away_col(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 12)
    return feats.select(
        "doc_id",
        round_half_away_col(p, 6).alias("score"),
        (p >= F.lit(0.5)).alias("pred"),
        F.col("y").cast("long").alias("y"),
    )


def _lr_ctes(steps: int) -> str:
    """The GD training chain as a reusable CTE prefix: ``f`` (features,
    with doc_id so a scoring tail can join back), ``s0..s{steps}``
    (weights), ``e{i}``/``g{i}`` (per-step sigmoid + gradient sums)."""
    parts = [f"""
WITH f AS MATERIALIZED (
  SELECT doc_id, y, CAST(len(w) AS DOUBLE) / 100.0 AS x1,
         round(CAST(len(list_distinct(w)) AS DOUBLE)
               / CAST(len(w) AS DOUBLE), 6) AS x2
  FROM (
    SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           {_WORDS_DUCK} AS w
    FROM documents
  ) WHERE len(w) > 0
), s0 AS MATERIALIZED (
  SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
         CAST(0.0 AS DOUBLE) AS w2
)"""]
    for i in range(steps):
        # z builds left-associatively — ((w0 + w1·x1) + w2·x2) — the
        # exact tree the Spark side constructs, so the double math is
        # bit-identical up to exp()'s last ulp (which the 12-dp round
        # absorbs before anything sums)
        z = (f"(SELECT w0 FROM s{i}) + (SELECT w1 FROM s{i}) * x1 "
             f"+ (SELECT w2 FROM s{i}) * x2")
        parts.append(f""", e{i} AS MATERIALIZED (
  SELECT y, x1, x2,
         round(1.0 / (1.0 + exp(-({z}))), 12) AS p
  FROM f
), g{i} AS MATERIALIZED (
  SELECT CAST(SUM(CAST(round(p - y, 14) AS DECIMAL(28,14))) AS DOUBLE)
           AS g0,
         CAST(SUM(CAST(round((p - y) * x1, 14) AS DECIMAL(28,14)))
              AS DOUBLE) AS g1,
         CAST(SUM(CAST(round((p - y) * x2, 14) AS DECIMAL(28,14)))
              AS DOUBLE) AS g2,
         count(*) AS n,
         SUM(CASE WHEN (p >= 0.5) = (y = 1) THEN 1 ELSE 0 END) AS ok
  FROM e{i}
), s{i + 1} AS MATERIALIZED (
  SELECT round((SELECT w0 FROM s{i})
               - (SELECT g0 FROM g{i}) / (SELECT n FROM g{i}), 12) AS w0,
         round((SELECT w1 FROM s{i})
               - (SELECT g1 FROM g{i}) / (SELECT n FROM g{i}), 12) AS w1,
         round((SELECT w2 FROM s{i})
               - (SELECT g2 FROM g{i}) / (SELECT n FROM g{i}), 12) AS w2
)""")
    return "".join(parts)


_LR_SQL = _lr_ctes(_LR_STEPS) + "\n" + "\nUNION ALL\n".join(
    f"SELECT CAST({i} AS BIGINT) AS step, "
    f"round((SELECT w0 FROM s{i}), 6) AS w0, "
    f"round((SELECT w1 FROM s{i}), 6) AS w1, "
    f"round((SELECT w2 FROM s{i}), 6) AS w2, "
    f"CAST((SELECT ok FROM g{i}) AS BIGINT) AS n_correct"
    for i in range(_LR_STEPS)
)

# Scoring tail: the FINAL weights (s{steps}) applied to every doc — the
# inference half of the train→filter loop.  score rounds the 12-dp
# sigmoid to 6 dp with the same two-step sequence the Spark side runs.
_LR_SCORE_SQL = _lr_ctes(_LR_STEPS) + f""", ps AS (
  SELECT doc_id, y,
         round(1.0 / (1.0 + exp(-((SELECT w0 FROM s{_LR_STEPS})
               + (SELECT w1 FROM s{_LR_STEPS}) * x1
               + (SELECT w2 FROM s{_LR_STEPS}) * x2))), 12) AS p
  FROM f
)
SELECT doc_id, round(p, 6) AS score, (p >= 0.5) AS pred,
       CAST(y AS BIGINT) AS y
FROM ps"""


# ---------------------------------------------------------------------------
# Count-based bigram LM: train + per-doc scoring (perplexity filter)
# ---------------------------------------------------------------------------



def _doc_bigrams(spark: SparkSession,
                 sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared bigram scaffolding for the LM scorers: cached
    (doc_id, w1, w2) adjacent-token pairs via
    :func:`operators.bpe.adjacent_elements` (ONE copy of the
    adjacent-pairs idiom — this module used to hand-roll it twice more,
    review finding) plus the cached distinct-pair count frame.
    Memoized per (session, sf_dir, mtime): three registry entries
    (add-one LM, KN LM, perplexity buckets) share this scaffolding and
    each used to re-explode and re-checkpoint the corpus bigram stream
    (round-13 review)."""
    from .operators.bpe import adjacent_elements

    def build():
        docs = t(spark, sf_dir, "documents")
        bg = _cache(adjacent_elements(
            docs.select("doc_id", F.expr(_WORDS_SPARK).alias("w")),
            "w", "w1", "w2", ["doc_id"]))
        c12 = _cache(bg.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).cast("long").alias("c12")))
        return bg, c12

    return _fit_memo(spark, sf_dir, "doc_bigrams", build)


def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram language model with add-one smoothing,
    trained on the corpus and used to score every document's average
    negative log-likelihood — the classic KenLM-style perplexity
    quality filter, fully relational:

    - TRAIN: doc-adjacent word pairs → ONE (w1, w2) count aggregate
      (map-side combinable); the conditional denominator is the
      marginal Σ_w2 c(w1,w2); V (vocabulary size) is one scalar.
    - SCORE: each doc's bigrams equi-join the count tables on their
      own keys — shuffle ∝ corpus bigram stream, never |docs|×|vocab|.

    Float discipline: p = (c12+1)/(c1+V) is an exact rational whose
    double division is IEEE-identical cross-engine; ln rounds to 9 dp
    before the per-doc DECIMAL(28,14) sum; the mean NLL rounds to 6."""
    docs = t(spark, sf_dir, "documents")
    # bg feeds the count model AND the scoring join; c12 feeds its
    # marginal AND the join — both cached inside _doc_bigrams so the
    # corpus token stream is derived once (at scale: persist/checkpoint)
    bg, c12 = _doc_bigrams(spark, sf_dir)
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    # V: one scalar — the vocabulary size of the training stream
    vocab_n = (
        docs.select(F.explode(F.expr(_WORDS_SPARK)).alias("word"))
        .agg(F.countDistinct("word")).collect()[0][0]
    )
    logp = round_half_away_col(
        F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.lit(vocab_n))),
        9,
    )
    return (
        bg.join(c12, ["w1", "w2"]).join(c1, "w1")
        .select("doc_id", logp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            round_half_away_col(
                -F.sum(F.col("lp").cast("decimal(28,14)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nll"),
        )
    )


# the ONE copy of the bigram-universe CTEs (tokenize, adjacent pairs,
# pair counts) shared by the add-one (_LM_SQL) and Kneser-Ney
# (_KN_CTES) oracles — a tokenization or bigram-rule change must reach
# both through this fragment (round-13 review: _LM_SQL carried a
# character-identical copy that could silently drift)
_BIGRAM_CTES = f"""toks AS MATERIALIZED (
  SELECT doc_id, w FROM (
    SELECT doc_id, {_WORDS_DUCK} AS w FROM documents
  ) WHERE len(w) >= 2
), bg AS MATERIALIZED (
  SELECT doc_id, w[j] AS w1, w[j + 1] AS w2
  FROM toks, unnest(range(1, len(w))) AS u(j)
), c12 AS MATERIALIZED (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
)"""

_LM_SQL = f"""
WITH {_BIGRAM_CTES}, c1 AS MATERIALIZED (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1
), vn AS (
  SELECT count(DISTINCT word) AS v FROM (
    SELECT unnest({_WORDS_DUCK}) AS word FROM documents
  )
)
SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(-CAST(SUM(CAST(round(ln((c12 + 1.0)
                    / (c1 + (SELECT v FROM vn))), 9)
             AS DECIMAL(28,14))) AS DOUBLE) / count(*), 6) AS avg_nll
FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY bg.doc_id
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed-bigram generative-model ratio)
# ---------------------------------------------------------------------------

_DSIR_B = 4096


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every document by the log-likelihood
    ratio between a TARGET hashed-bigram unigram model (here: the
    English subset, the quality-domain proxy) and the RAW-corpus
    model, both add-one smoothed over B=4096 md5 buckets.

    The 100 TB shape is the whole point: both "models" are fixed-size
    B-bucket count tables (two map-side-combinable aggregates), the
    per-bucket log-ratio table BROADCASTS to the scoring join, and the
    corpus is never shuffled except the per-doc combinable aggregate —
    a document's score never needs another document.

    Float discipline: bucket probabilities are exact rationals whose
    double math is IEEE-identical; ln rounds to 9 dp per bucket (once,
    in the broadcast table); per-doc sums ride DECIMAL(28,14); the
    mean rounds to 6."""
    from .operators.bpe import adjacent_elements

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.col("lang"), F.expr(_WORDS_SPARK).alias("w")
    ).filter(F.size("w") >= 2)
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.col("w1"), F.col("w2"))), 1, 6),
            16, 10,
        ).cast("long"),
        F.lit(_DSIR_B),
    )
    # g (the bucketed bigram stream) feeds both models, the totals,
    # and the scoring aggregate — derive it from the corpus ONCE
    g = _cache(
        adjacent_elements(toks, "w", "w1", "w2", ["doc_id", "lang"])
        .select("doc_id", "lang", bucket.alias("b"))
    )
    raw = g.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("cr"))
    tgt = (
        g.filter(F.col("lang") == "en")
        .groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    totals = g.agg(
        F.count(F.lit(1)).alias("nr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("nt"),
    ).collect()[0]
    rd = float(int(totals["nr"]) + _DSIR_B)
    td = float(int(totals["nt"]) + _DSIR_B)
    lr = round_half_away_col(
        F.log(((F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0)) / F.lit(td))
              / ((F.col("cr") + F.lit(1.0)) / F.lit(rd))),
        9,
    )
    stats = raw.join(tgt, "b", "left").select("b", lr.alias("lr"))
    return (
        g.join(F.broadcast(stats), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            round_half_away_col(
                F.sum(F.col("lr").cast("decimal(28,14)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logratio"),
        )
        .select(
            "doc_id", "n_bigrams", "avg_logratio",
            (F.col("avg_logratio") > 0).alias("selected"),
        )
    )


_DSIR_SQL = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, lang, w FROM (
    SELECT doc_id, lang, {_WORDS_DUCK} AS w FROM documents
  ) WHERE len(w) >= 2
), g AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST('0x' || substring(md5(w[j] || ' ' || w[j + 1]), 1, 6)
              AS BIGINT) % {_DSIR_B} AS b
  FROM toks, unnest(range(1, len(w))) AS u(j)
), raw AS MATERIALIZED (
  SELECT b, CAST(count(*) AS BIGINT) AS cr FROM g GROUP BY 1
), tgt AS MATERIALIZED (
  SELECT b, CAST(count(*) AS BIGINT) AS ct FROM g
  WHERE lang = 'en' GROUP BY 1
), tot AS (
  SELECT CAST(count(*) + {_DSIR_B} AS DOUBLE) AS rd,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + {_DSIR_B}
              AS DOUBLE) AS td
  FROM g
), stats AS MATERIALIZED (
  SELECT raw.b,
         round(ln(((coalesce(tgt.ct, 0) + 1.0) / (SELECT td FROM tot))
                  / ((raw.cr + 1.0) / (SELECT rd FROM tot))), 9) AS lr
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(CAST(lr AS DECIMAL(28,14))) AS DOUBLE) / count(*), 6)
         AS avg_logratio,
       (round(CAST(SUM(CAST(lr AS DECIMAL(28,14))) AS DOUBLE) / count(*), 6)
        > 0) AS selected
FROM g JOIN stats USING (b)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------


def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: tf = in-doc term count, idf =
    ln(N/df) over the corpus — two map-side-combinable aggregates and
    one per-doc window (partitioned by doc_id, never global).  The df
    table is vocabulary-sized and joins back on the term — at 100 TB
    the shuffle carries the (doc, term, tf) stream, already collapsed
    from the raw token stream by the first aggregate."""
    docs = t(spark, sf_dir, "documents")
    n_docs = docs.count()
    tf = _cache(
        docs.select("doc_id", F.explode(F.expr(_WORDS_SPARK)).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_t = tf.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = round_half_away_col(F.log(F.lit(float(n_docs)) / F.col("df")), 9)
    scored = tf.join(df_t, "word").select(
        "doc_id", "word", "tf",
        round_half_away_col(F.col("tf") * idf, 6).alias("score"),
    )

    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(
            F.col("score").desc(), F.col("word")))
    return (
        scored.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 3)
    )


_TFIDF_SQL = f"""
WITH tf AS MATERIALIZED (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, unnest({_WORDS_DUCK}) AS word FROM documents
  ) GROUP BY 1, 2
), dft AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
SELECT doc_id, word, tf, score, rk FROM (
  SELECT tf.doc_id, tf.word, tf.tf,
         round(tf.tf * round(ln((SELECT n FROM nd) / dft.df), 9), 6)
           AS score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY round(tf.tf * round(ln((SELECT n FROM nd) / dft.df),
                          9), 6) DESC, tf.word) AS BIGINT) AS rk
  FROM tf JOIN dft USING (word)
) WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# Document clustering: hashed-TF vectors + k-means (HashingTF→KMeans)
# ---------------------------------------------------------------------------

_DOC_TF_D = 16


def _doc_tf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer: each document becomes a dense
    D-dim term-frequency vector over md5 word buckets — the Spark-ML
    HashingTF re-expressed with engine-portable hashing so the whole
    pipeline stays oracle-checkable.  The dense vector assembles from
    a (doc × bucket) spine left-joined to the bucket counts; the spine
    is |docs|·D rows — D is a constant, so this is a linear pass."""
    docs = t(spark, sf_dir, "documents")
    b = F.pmod(
        F.conv(F.substring(F.md5("word"), 1, 6), 16, 10).cast("long"),
        F.lit(_DOC_TF_D),
    )
    counts = (
        docs.select("doc_id", F.explode(F.expr(_WORDS_SPARK)).alias("word"))
        .select("doc_id", b.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
    )
    grid = (
        docs.filter(F.size(F.expr(_WORDS_SPARK)) > 0)
        .select("doc_id",
                F.explode(F.sequence(F.lit(0), F.lit(_DOC_TF_D - 1)))
                 .alias("b"))
    )
    return (
        grid.join(counts, ["doc_id", "b"], "left")
        .select("doc_id", "b", F.coalesce("v", F.lit(0.0)).alias("v"))
        .groupBy("doc_id")
        .agg(F.transform(
            F.sort_array(F.collect_list(F.struct("b", "v"))),
            lambda s: s["v"],
        ).alias("tfv"))
    )


def doc_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text clustering, end to end: hashed-TF vectorizer (above) →
    the deterministic Lloyd's quantizer (half-sample fit, 4 cells,
    2 iterations) → one shuffle-free full-corpus assignment.  The
    Spark-ML `HashingTF + KMeans` pipeline shape with every stage
    oracle-checkable.  Output: (doc_id, cell)."""
    from .operators.ann import assign_cells, kmeans_centroids

    vecs = _cache(_doc_tf_vectors(spark, sf_dir))
    cents = kmeans_centroids(
        vecs, n_centroids=4, iters=2, id_col="doc_id", vec_col="tfv",
        sample_mod=2)
    return (
        assign_cells(vecs, cents, id_col="doc_id", vec_col="tfv")
        .select(F.col("vec_id").alias("doc_id"),
                F.col("cell").cast("bigint").alias("cell"))
    )


_DOC_TF_V_SQL = f"""SELECT doc_id AS vec_id, list(v ORDER BY b) AS cv
  FROM (
    SELECT g.doc_id, g.b, CAST(coalesce(c.v, 0) AS DOUBLE) AS v
    FROM (
      SELECT d.doc_id, r.b
      FROM (SELECT doc_id FROM documents
            WHERE len({_WORDS_DUCK}) > 0) d,
           (SELECT unnest(range(0, {_DOC_TF_D})) AS b) r
    ) g
    LEFT JOIN (
      SELECT doc_id,
             CAST('0x' || substring(md5(word), 1, 6) AS BIGINT)
               % {_DOC_TF_D} AS b,
             count(*) AS v
      FROM (SELECT doc_id, unnest({_WORDS_DUCK}) AS word FROM documents)
      GROUP BY 1, 2
    ) c ON c.doc_id = g.doc_id AND c.b = g.b
  ) GROUP BY doc_id"""

_DOC_CLUSTER_SQL = _kmeans_fit_ctes(
    4, 2, sample_mod=2, v_sql=_DOC_TF_V_SQL) + """
SELECT vec_id AS doc_id, CAST(cent_id AS BIGINT) AS cell FROM af"""


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup blocked by learned k-means cells
# ---------------------------------------------------------------------------


def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings corpus: k-means cells (8 cells,
    2 Lloyd's iterations, half-sample fit — the exact ann_kmeans_cells
    quantizer) block the cosine pair join; a vector is dropped when a
    lower-id cell-mate has cosine ≥ 0.3 (the dedup_embedding_pairs
    threshold).  One row per vector with the full decision + witness."""
    from .operators.dedup import semantic_keep

    return semantic_keep(
        t(spark, sf_dir, "embeddings"),
        min_sim=0.3, n_centroids=8, iters=2, sample_mod=2,
    )


_SEMDEDUP_SQL = _kmeans_fit_ctes(8, 2, sample_mod=2) + """, pr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(va.cv, vb.cv)
               / (sqrt(list_dot_product(va.cv, va.cv))
                  * sqrt(list_dot_product(vb.cv, vb.cv))), 6) AS cos
  FROM af a JOIN af b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id
), prt AS (
  SELECT * FROM pr WHERE cos >= 0.3
), wit AS (
  SELECT id_b, min(id_a) AS witness FROM prt GROUP BY id_b
), witc AS (
  SELECT w.id_b, w.witness, p.cos FROM wit w
  JOIN prt p ON p.id_b = w.id_b AND p.id_a = w.witness
)
SELECT a.vec_id, CAST(a.cent_id AS BIGINT) AS cell,
       (wc.id_b IS NULL) AS kept, wc.witness, wc.cos AS witness_cos
FROM af a LEFT JOIN witc wc ON a.vec_id = wc.id_b"""


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM scoring (the CCNet-style filter LM)
# ---------------------------------------------------------------------------

_KN_D = 0.75


def _kn_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document interpolated Kneser-Ney mean NLL — the shared
    scoring core of ``lm_kn_bigram_score`` (which reports it) and
    ``lm_ppl_buckets`` (which buckets on it).  See
    ``lm_kn_bigram_score`` for the formula, scale shapes, and float
    discipline.  Memoized: lm_kn_bigram_score AND lm_ppl_buckets both
    call this back to back in the sweep (round-13 review)."""
    return _fit_memo(spark, sf_dir, "kn_doc_scores",
                     lambda: _kn_doc_scores_build(spark, sf_dir))


def _kn_doc_scores_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    bg, c12 = _doc_bigrams(spark, sf_dir)
    t1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1f"))
    t2 = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1b"))
    nbg = float(c12.count())  # bigram-type total N1+(··), one scalar
    d = F.lit(_KN_D)
    p = (
        (F.col("c12") - d) / F.col("c1")
        + (d * F.col("n1f") / F.col("c1"))
        * (F.col("n1b") / F.lit(nbg))
    )
    lp = round_half_away_col(F.log(p), 9)
    return (
        bg.join(c12, ["w1", "w2"]).join(t1, "w1").join(t2, "w2")
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            round_half_away_col(
                -F.sum(F.col("lp").cast("decimal(28,14)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nll_kn"),
        )
    )


def lm_kn_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.28), the smoothing actually used by the
    KenLM models in CCNet-style perplexity filters — next to
    `lm_bigram_score`'s add-one baseline:

        P_KN(w2|w1) = (c(w1,w2) − D)/c(w1)
                      + (D·N1+(w1,·)/c(w1)) · N1+(·,w2)/N1+(··)

    with discount D = 0.75.  Everything is counting: c12, its marginal
    c1, the distinct-continuation counts N1+(w1,·) / N1+(·,w2), and
    the bigram-type total — four map-side-combinable aggregates over
    the corpus bigram stream, then scoring joins each doc's bigrams to
    the (w1) and (w2) count tables on their own keys.

    Self-scoring precondition (same as `lm_bigram_score`): every
    scored bigram was seen in training, so c12 ≥ 1 > D and the
    max(c−D, 0) clamp is vacuous — pointed at held-out text the first
    term needs the clamp (documented, not implemented: the oracle
    mirrors the exact formula).  Float discipline: the probability is
    one fixed expression tree evaluated in doubles on both engines,
    ln rounds to 9 dp, per-doc DECIMAL(28,14) sums, mean NLL to 6."""
    return _kn_doc_scores(spark, sf_dir)


def lm_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    language, documents split into head / middle / tail terciles of
    the Kneser-Ney mean NLL — the standard quality gate that keeps the
    'head' (lowest-perplexity) slice for training and downsamples the
    tail.  Bucketing keys on the 6-dp-ROUNDED score with doc_id as the
    tie-break, so the tercile assignment is a deterministic total
    order both engines share exactly (an unrounded sort key would let
    1-ulp cross-engine drift flip a boundary doc's bucket).

    Shapes: the KN scorer's joins (see ``lm_kn_bigram_score``), one
    broadcast lang join, one per-lang window for ntile(3) — at corpus
    scale the window shuffles |docs| score rows, not tokens — and one
    final tiny aggregate.  Per-bucket mean NLL sums DECIMAL(18,6)
    (exact on 6-dp inputs), reported at 6 dp."""
    scores = _kn_doc_scores(spark, sf_dir)
    langs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    win = W.partitionBy("lang").orderBy("avg_nll_kn", "doc_id")
    bucketed = (
        scores.join(langs, "doc_id")
        .withColumn("bucket", F.ntile(3).over(win).cast("long"))
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        round_half_away_col(
            F.sum(F.col("avg_nll_kn").cast("decimal(18,6)"))
            .cast("double") / F.count(F.lit(1)), 6).alias("mean_nll"),
        F.min("avg_nll_kn").alias("min_nll"),
        F.max("avg_nll_kn").alias("max_nll"),
    )


_KN_CTES = f"""{_BIGRAM_CTES}, t1 AS MATERIALIZED (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1f
  FROM c12 GROUP BY 1
), t2 AS MATERIALIZED (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM c12 GROUP BY 1
), nb AS (SELECT CAST(count(*) AS DOUBLE) AS nbg FROM c12),
kn_scores AS MATERIALIZED (
SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(-CAST(SUM(CAST(round(ln(
                 (c12 - CAST(0.75 AS DOUBLE)) / c1
                 + (CAST(0.75 AS DOUBLE) * n1f / c1)
                 * (n1b / (SELECT nbg FROM nb))), 9)
             AS DECIMAL(28,14))) AS DOUBLE) / count(*), 6) AS avg_nll_kn
FROM bg JOIN c12 USING (w1, w2) JOIN t1 USING (w1) JOIN t2 USING (w2)
GROUP BY bg.doc_id
)"""

_KN_SQL = f"""
WITH {_KN_CTES}
SELECT doc_id, n_bigrams, avg_nll_kn FROM kn_scores
"""

def _bm25_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenized corpus (doc_id, lang, w), cached — the retrieval
    probe universe (documents with ≥1 token).  ONE copy: BM25 and
    every ranker fused with it (retrieval_rrf_fusion) must draw from
    the same universe or the fusion silently mixes rankings answered
    against different query sets."""
    # memoized per (session, sf_dir, mtime): retrieval_rrf_fusion calls
    # this directly AND through text_bm25_topk — without the memo each
    # call paid its own corpus tokenization scan + localCheckpoint
    # (round-13 review)
    docs = t(spark, sf_dir, "documents")
    return _fit_memo(spark, sf_dir, "bm25_toks", lambda: _cache(
        docs.select("doc_id", "lang", F.expr(_WORDS_SPARK).alias("w"))
        .filter(F.size("w") >= 1)))


def bm25_query_docs(toks: DataFrame) -> DataFrame:
    """(qid, doc_id): per language, that language's min-id tokenizable
    document — THE probe set (see _bm25_toks; shared-fragment rule)."""
    return (toks.groupBy("lang").agg(F.min("doc_id").alias("doc_id"))
            .select(F.col("lang").alias("qid"), "doc_id"))


# the probe set's SQL twin — slotted verbatim into _BM25_SQL and into
# retrieval_rrf_fusion's oracle, so the two oracles cannot drift either
_BM25_PROBE_CTES = f"""toks AS MATERIALIZED (
  SELECT doc_id, lang, w FROM (
    SELECT doc_id, lang, {{words}} AS w FROM documents
  ) WHERE len(w) >= 1
), qdoc AS (
  SELECT lang AS qid, min(doc_id) AS doc_id FROM toks GROUP BY 1
)""".replace("{words}", _WORDS_DUCK)


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Robertson & Spärck Jones probabilistic relevance,
    k1 = 1.2, b = 0.75): top-10 documents per query over an inverted
    index — the search primitive a curation pipeline uses for targeted
    corpus probes (find documents like X, audit near-matches of a
    benchmark prompt).  Queries are self-contained and deterministic:
    per language, the first 6 words of that language's min-id document.

        score(q, d) = Σ_{{term ∈ q}} idf(term) · tf·(k1+1) /
                      (tf + k1·(1 − b + b·dlen/avgdl))
        idf(term)   = ln(1 + (N − df + 0.5)/(df + 0.5))

    Scale shapes: the postings table is pruned to QUERY terms by a
    broadcast join before any scoring work — df, idf, and the score
    join never touch the full vocabulary, so the expensive path is
    ∝ postings of ~30 terms, not the corpus index.  Corpus stats
    (N, avgdl) are a one-row broadcast cross (the mix_domains
    scalar-dimension shape).  Per-term contributions round to 9 dp and
    sum as DECIMAL(28,14) per (query, doc) so the score is
    partition-order-proof; ranking keys on the 6-dp-rounded score with
    doc_id tie-break (a deterministic total order both engines share),
    and the row_number filter compiles to WindowGroupLimit so each
    partition ships only its top 10."""
    toks = _bm25_toks(spark, sf_dir)
    post = _cache(
        toks.select("doc_id", F.explode("w").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    dl = post.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dlen") / F.count(F.lit(1))).alias("avgdl"))
    qdoc = bm25_query_docs(toks)
    qterms = (
        qdoc.join(toks.select("doc_id", "w"), "doc_id")
        .select("qid", F.explode(F.slice("w", 1, 6)).alias("term"))
        .distinct())
    qpost = post.join(F.broadcast(qterms), "term")
    dfq = qpost.groupBy("qid", "term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    k1, b = F.lit(1.2), F.lit(0.75)
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tfn = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (F.lit(1.0) - b + b * F.col("dlen")
                            / F.col("avgdl")))
    contrib = round_half_away_col(idf * tfn, 9)
    scored = (
        qpost.join(F.broadcast(dfq), ["qid", "term"])
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("qid", "doc_id", contrib.alias("c"))
        .groupBy("qid", "doc_id")
        .agg(round_half_away_col(
            F.sum(F.col("c").cast("decimal(28,14)")).cast("double"), 6
        ).alias("score")))
    win = W.partitionBy("qid").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(win).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("qid", "doc_id", "score", "rk"))


_BM25_SQL = f"""
WITH {_BM25_PROBE_CTES}, post AS MATERIALIZED (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(w) AS term FROM toks) GROUP BY 1, 2
), dl AS MATERIALIZED (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dlen FROM post GROUP BY 1
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         sum(dlen) / count(*) AS avgdl
  FROM dl
), qterms AS (
  SELECT DISTINCT q.qid, unnest(t.w[1:6]) AS term
  FROM qdoc q JOIN toks t ON q.doc_id = t.doc_id
), qpost AS MATERIALIZED (
  SELECT p.doc_id, p.term, p.tf, q.qid
  FROM post p JOIN qterms q USING (term)
), dfq AS (
  SELECT qid, term, CAST(count(*) AS DOUBLE) AS df
  FROM qpost GROUP BY 1, 2
), scored AS (
  SELECT qid, doc_id,
         round(CAST(SUM(CAST(round(
             -- constants CAST to DOUBLE and the tfn quotient
             -- parenthesized: DuckDB's (1.2 + 1) is exact DECIMAL 2.2
             -- while Spark adds doubles (differs for 528/999 tf
             -- values pre-round), and ln*num/den associates the
             -- divide last while Spark computes idf*(num/den) — both
             -- ULP divergences feed the 9-dp round (round-13 review)
             ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
             * ((p.tf * (CAST(1.2 AS DOUBLE) + 1))
                / (p.tf + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE) * d.dlen / s.avgdl))), 9)
           AS DECIMAL(28,14))) AS DOUBLE), 6) AS score
  FROM qpost p
  JOIN dfq f USING (qid, term)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s
  GROUP BY qid, doc_id
)
SELECT qid, doc_id, score, rk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
      ORDER BY score DESC, doc_id) AS BIGINT) AS rk
  FROM scored
) WHERE rk <= 10
"""


_PPL_BUCKETS_SQL = f"""
WITH {_KN_CTES}
SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(avg_nll_kn AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS mean_nll,
       min(avg_nll_kn) AS min_nll,
       max(avg_nll_kn) AS max_nll
FROM (
  SELECT s.avg_nll_kn, d.lang,
         CAST(ntile(3) OVER (PARTITION BY d.lang
                             ORDER BY s.avg_nll_kn, s.doc_id) AS BIGINT)
           AS bucket
  FROM kn_scores s JOIN documents d ON s.doc_id = d.doc_id
) GROUP BY lang, bucket
"""


# ---------------------------------------------------------------------------
# Per-document word entropy (quality/diversity signal)
# ---------------------------------------------------------------------------


def text_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon word entropy H = −Σ_w p_w·ln(p_w) with
    p_w = c_w/n — the vocabulary-diversity quality signal (machine-
    generated/keyword-stuffed text is low-entropy; `text_repetition`'s
    unique-ratio is its coarse cousin).  One (doc, word) count
    aggregate, the per-doc total joined back, one codegen expression
    per row.  Per-term values round to 9 dp, the DECIMAL(28,14) sum
    makes H partition-order-proof, reported at 6 dp.  Docs with no
    words are excluded (mirrored)."""
    docs = t(spark, sf_dir, "documents")
    cw = (
        docs.select("doc_id", F.explode(F.expr(_WORDS_SPARK)).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n = cw.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    term = round_half_away_col(
        (F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n")), 9)
    return (
        cw.join(n, "doc_id")
        .select("doc_id", "n", term.alias("t"))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_tokens"),
            round_half_away_col(
                -F.sum(F.col("t").cast("decimal(28,14)")).cast("double"), 6
            ).alias("entropy"),
        )
    )


_ENTROPY_SQL = f"""
WITH cw AS MATERIALIZED (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({_WORDS_DUCK}) AS word FROM documents)
  GROUP BY 1, 2
), nt AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM cw GROUP BY 1)
SELECT doc_id, max(n) AS n_tokens,
       round(-CAST(SUM(CAST(round((c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE)), 9)
             AS DECIMAL(28,14))) AS DOUBLE), 6) AS entropy
FROM cw JOIN nt USING (doc_id)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier: train + score
# ---------------------------------------------------------------------------


def _nb_model(spark: SparkSession, sf_dir: str):
    """Shared NB training state: token stream, lang dimension, vocab
    scalar, and the COMPLETE Laplace-smoothed (lang × vocab) log-prob
    model (unseen-in-lang words get the ln(1/(c_l+V)) smoothing floor).

    Scale shape: training is two map-side-combinable count aggregates
    over the corpus token stream ((lang, word) and (lang)); the model
    completion is vocab × |langs| — |langs| is a bounded dimension (a
    handful of language codes), so the cross join broadcasts the lang
    frame and the completed model is |V|·|langs| rows, the same
    magnitude as the count table itself."""
    docs = t(spark, sf_dir, "documents")
    toks = _cache(
        docs.select(
            "doc_id", "lang", F.explode(F.expr(_WORDS_SPARK)).alias("word")
        )
    )
    vocab_n = toks.agg(F.countDistinct("word")).collect()[0][0]
    clw = toks.groupBy("lang", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c_lw"))
    cl = toks.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("c_l"))
    vocab = toks.select("word").distinct()
    model = _cache(
        vocab.crossJoin(F.broadcast(cl))
        .join(clw, ["lang", "word"], "left")
        .select(
            "lang", "word",
            F.coalesce("c_lw", F.lit(0)).cast("long").alias("c_lw"),
            round_half_away_col(
                F.log(
                    (F.coalesce("c_lw", F.lit(0)) + F.lit(1.0))
                    / (F.col("c_l") + F.lit(float(vocab_n)))
                ),
                9,
            ).alias("logp"),
        )
    )
    return docs, toks, model


def nb_lang_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a multinomial Naive Bayes language classifier on the
    corpus — the fastText/CCNet-style COUNTING classifier next to the
    gradient-descent LR (`lr_quality_train`): training is nothing but
    two count aggregates, so it parallelizes perfectly at 100 TB.

    Output: the observed slice of the smoothed model —
    (lang, word, c_lw, logp) with logp = ln((c_lw+1)/(c_l+V)) rounded
    to 9 dp (same float discipline as the bigram LM)."""
    _, _, model = _nb_model(spark, sf_dir)
    return model.filter(F.col("c_lw") > 0)


def nb_lang_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every document under the trained NB model: per-doc
    per-lang log-posterior = ln(prior_l) + Σ_tokens logp(w|l), argmax
    with lang-ascending tie-break.

    - The completed model makes the scoring join a plain (word) →
      (word, lang) equi-join: the token stream fans out by the bounded
      |langs| factor, never |docs|×|vocab|.
    - OOV policy: words absent from the training vocabulary are
      ignored (the standard NB choice; smoothing covers words unseen
      in a PARTICULAR lang, not unseen everywhere).  Self-trained here,
      so the inner join is total over the stream.
    - Docs whose text yields no words have no token rows and are
      excluded (mirrored by the oracle).
    - Float discipline: per-token logp is 9 dp; per-(doc, lang) sums
      go through DECIMAL(28,14); prior ln rounds to 9 dp; the reported
      score rounds to 6.  The argmax compares bit-identical doubles,
      so the ranking is engine-independent."""
    docs, toks, model = _nb_model(spark, sf_dir)
    per = (
        toks.select("doc_id", "word")
        .join(model.select("lang", "word", "logp"), "word")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("logp").cast("decimal(28,14)"))
            .cast("double").alias("s")
        )
    )
    return _nb_argmax(per, _nb_prior(docs))


def _nb_prior(docs: DataFrame) -> DataFrame:
    n_docs = docs.count()
    return docs.groupBy("lang").agg(
        round_half_away_col(
            F.log(F.count(F.lit(1)).cast("double") / F.lit(float(n_docs))),
            9,
        ).alias("prior_lp")
    )


def _nb_argmax(per: DataFrame, prior: DataFrame) -> DataFrame:
    """Shared NB decision epilogue: add the prior to the per-(doc,
    lang) likelihood sums and take the per-doc argmax (lang-ascending
    tie-break)."""
    w = W.partitionBy("doc_id").orderBy(
        F.col("total").desc(), F.col("lang").asc())
    return (
        per.join(F.broadcast(prior), "lang")
        .select("doc_id", "lang", (F.col("s") + F.col("prior_lp")).alias("total"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("pred_lang"),
            round_half_away_col(F.col("total"), 6).alias("score"),
        )
    )


def stream_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model serving in Structured Streaming: documents arrive as a
    file stream and are classified under the BATCH-trained NB model —
    the trained (lang, word, logp) frame joins into the streaming plan
    as a static broadcast side, re-resolved per micro-batch exactly
    like `stream_static_enrich`'s dimension (no join state).

    The stream computes the stateful part — the per-(doc, lang)
    log-likelihood sums, ONE complete-mode aggregation whose state is
    |docs|·|langs| rows — and the per-doc argmax runs as a batch
    epilogue on the sink table (window functions are unsupported on
    streaming DataFrames; the decision is a bounded per-doc pick, so
    finalizing at read time is the standard serving shape).  Oracle:
    identical SQL to `nb_lang_score` — streaming the corpus through
    the model must answer exactly what the batch pass answers."""
    from .streaming.windows import run_to_memory

    docs, _, model = _nb_model(spark, sf_dir)
    schema = t(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    per = (
        stream.select("doc_id", F.explode(F.expr(_WORDS_SPARK)).alias("word"))
        .join(F.broadcast(model.select("lang", "word", "logp")), "word")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("logp").cast("decimal(28,14)"))
            .cast("double").alias("s")
        )
    )
    sums = run_to_memory(per, "mem_nb_classify", "complete")
    return _nb_argmax(sums, _nb_prior(docs))


_NB_CTES = f"""
toks AS MATERIALIZED (
  SELECT doc_id, lang, unnest({_WORDS_DUCK}) AS word FROM documents
),
vn AS (SELECT count(DISTINCT word) AS v FROM toks),
clw AS MATERIALIZED (
  SELECT lang, word, CAST(count(*) AS BIGINT) AS c_lw FROM toks GROUP BY 1, 2
),
cl AS MATERIALIZED (
  SELECT lang, CAST(count(*) AS BIGINT) AS c_l FROM toks GROUP BY 1
),
vocab AS MATERIALIZED (SELECT DISTINCT word FROM toks),
model AS MATERIALIZED (
  SELECT cl.lang, w.word,
         CAST(COALESCE(c.c_lw, 0) AS BIGINT) AS c_lw,
         round(ln((COALESCE(c.c_lw, 0) + 1.0)
                  / (cl.c_l + (SELECT v FROM vn))), 9) AS logp
  FROM vocab w CROSS JOIN cl
  LEFT JOIN clw c ON c.lang = cl.lang AND c.word = w.word
)"""


_NB_TRAIN_SQL = f"""
WITH {_NB_CTES}
SELECT lang, word, c_lw, logp FROM model WHERE c_lw > 0
"""


_NB_SCORE_SQL = f"""
WITH {_NB_CTES},
prior AS (
  SELECT lang,
         round(ln(CAST(count(*) AS DOUBLE)
                  / (SELECT count(*) FROM documents)), 9) AS prior_lp
  FROM documents GROUP BY 1
),
per AS MATERIALIZED (
  SELECT d.doc_id, m.lang,
         CAST(SUM(CAST(m.logp AS DECIMAL(28,14))) AS DOUBLE) AS s
  FROM (SELECT doc_id, word FROM toks) d
  JOIN model m USING (word)
  GROUP BY 1, 2
)
SELECT doc_id, lang AS pred_lang, round(total, 6) AS score FROM (
  SELECT p.doc_id, p.lang, p.s + pr.prior_lp AS total,
         row_number() OVER (PARTITION BY p.doc_id
                            ORDER BY p.s + pr.prior_lp DESC, p.lang ASC) AS rn
  FROM per p JOIN prior pr USING (lang)
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# N-gram novelty: fraction of a document's shingles unique to it
# ---------------------------------------------------------------------------


def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of the doc's distinct
    word-3-shingles that occur in NO other document — the complement
    of Gopher-style repeated-fraction signals, used to up-weight
    genuinely novel text in curation mixes.

    One corpus shingle pass → document-frequency aggregate →
    per-doc ratio; pure integer counting until the final division, so
    no float discipline beyond the reported 6 dp round.  Docs shorter
    than 3 words have no shingles and are excluded (mirrored)."""
    docs = t(spark, sf_dir, "documents")
    wcol = F.expr(_WORDS_SPARK)
    sh = _cache(
        docs.select("doc_id", wcol.alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - 2)).alias("j"),
            "w",
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at("w", F.col("j")),
                F.element_at("w", F.col("j") + 1),
                F.element_at("w", F.col("j") + 2),
            ).alias("sh"),
        )
        .distinct()
    )
    df = sh.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("d"))
    return (
        sh.join(df, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
            .cast("long").alias("n_novel"),
        )
        .select(
            "doc_id", "n_shingles", "n_novel",
            round_half_away_col(
                F.col("n_novel").cast("double") / F.col("n_shingles"), 6
            ).alias("novelty"),
        )
    )


_NOVELTY_SQL = f"""
WITH sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, w[j] || ' ' || w[j + 1] || ' ' || w[j + 2] AS sh
  FROM (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents) tt,
       unnest(range(1, len(w) - 1)) AS u(j)
  WHERE len(w) >= 3
),
df AS MATERIALIZED (SELECT sh, count(*) AS d FROM sh GROUP BY 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM sh JOIN df USING (sh) GROUP BY 1
"""


SPECS: dict[str, QuerySpec] = {
    "nb_lang_train": QuerySpec(
        nb_lang_train, _NB_TRAIN_SQL,
        "multinomial Naive Bayes language-classifier training: two "
        "count aggregates + Laplace smoothing, observed model slice"),
    "nb_lang_score": QuerySpec(
        nb_lang_score, _NB_SCORE_SQL,
        "NB classification: per-doc log-posterior argmax via a "
        "word equi-join against the completed smoothed model"),
    "stream_nb_classify": QuerySpec(
        stream_nb_classify, _NB_SCORE_SQL,
        "streaming NB inference: batch-trained model broadcast into a "
        "document file stream, complete-mode likelihood sums, batch "
        "argmax epilogue — must equal the batch pass exactly"),
    "text_novelty_score": QuerySpec(
        text_novelty_score, _NOVELTY_SQL,
        "per-doc fraction of word-3-shingles unique to the doc "
        "(corpus df aggregate + per-doc ratio)"),
    "bpe_train_merges": QuerySpec(
        bpe_train_merges, _BPE_MERGES_SQL,
        "distributed BPE tokenizer training: 8 merge rules learned "
        "over the corpus word-frequency table, trajectory oracle-"
        "checked via unrolled CTEs"),
    "bpe_vocab_tokens": QuerySpec(
        bpe_vocab_tokens, _BPE_VOCAB_SQL,
        "corpus token-frequency vocabulary under the trained BPE "
        "merges (encode-by-vocabulary)"),
    "bpe_encode_docs": QuerySpec(
        bpe_encode_docs, _BPE_ENCODE_SQL,
        "per-document token counts under the trained BPE tokenizer "
        "(broadcast word→tokenization map join)"),
    "lr_quality_train": QuerySpec(
        lr_quality_train, _LR_SQL,
        "logistic-regression training as relational aggregation: "
        "5 full-batch GD steps, one map-side-combinable aggregate "
        "each; training curve oracle-checked per step"),
    "lr_quality_score": QuerySpec(
        lr_quality_score, _LR_SCORE_SQL,
        "inference with the trained LR model: per-doc sigmoid score + "
        "decision, one codegen pass with the model as plan literals"),
    "lm_bigram_score": QuerySpec(
        lm_bigram_score, _LM_SQL,
        "count-based bigram LM (add-one smoothing) trained on the "
        "corpus; per-doc mean negative log-likelihood — the "
        "perplexity quality filter"),
    "lm_kn_bigram_score": QuerySpec(
        lm_kn_bigram_score, _KN_SQL,
        "interpolated Kneser-Ney bigram LM (D=0.75): four count "
        "aggregates train it, per-doc mean NLL scores it — the "
        "KenLM/CCNet filter smoothing"),
    "lm_ppl_buckets": QuerySpec(
        lm_ppl_buckets, _PPL_BUCKETS_SQL,
        "CCNet head/middle/tail perplexity terciles per language "
        "over the KN scores — deterministic rounded-score ntile"),
    "text_bm25_topk": QuerySpec(
        text_bm25_topk, _BM25_SQL,
        "BM25 top-10 retrieval per query over an inverted index, "
        "postings pruned to query terms by broadcast join"),
    "text_entropy_score": QuerySpec(
        text_entropy_score, _ENTROPY_SQL,
        "per-doc Shannon word entropy (vocabulary-diversity quality "
        "signal), decimal-summed"),
    "text_tfidf_terms": QuerySpec(
        text_tfidf_terms, _TFIDF_SQL,
        "top-3 TF-IDF terms per document (corpus df join + per-doc "
        "window)"),
    "dsir_importance_weights": QuerySpec(
        dsir_importance_weights, _DSIR_SQL,
        "DSIR importance weights: hashed-bigram target/raw "
        "log-likelihood ratio per doc, broadcast-sized bucket models"),
    "doc_cluster_assign": QuerySpec(
        doc_cluster_assign, _DOC_CLUSTER_SQL,
        "text clustering: hashed-TF vectorizer + deterministic "
        "k-means, one shuffle-free full-corpus assignment"),
    "dedup_semantic_keep": QuerySpec(
        dedup_semantic_keep, _SEMDEDUP_SQL,
        "SemDeDup: k-means-cell-blocked embedding-cosine dedup with "
        "per-vector keep decision and witness"),
}
