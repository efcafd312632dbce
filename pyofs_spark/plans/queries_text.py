"""Text-analysis / dedup / similarity query pack over documents+embeddings —
the training-data-pipeline operators (deduplication, quality scoring,
language id, fingerprinting, ANN similarity) the north star requires beyond
the reference's own surface.

Parity strategy: word codes and signatures are pure integer arithmetic over
ascii() codepoints (identical both engines); cosine similarities are
floor-rounded to 6 decimals BEFORE ranking with a vec_id tie-break.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import register_views
from .queries import register
from .queries_field import round6


def _sql_query(name: str, body: str, oracle: str | None = None):
    def fn(spark: SparkSession, sf_dir: str, _body=body) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(_body)

    fn.__name__ = name
    register(name, oracle if oracle is not None else body)(fn)
    return fn


import itertools as _it

_MAT_SEQ = _it.count(1)  # per-invocation view-name suffix (atomic next())
_MAT_PREV: dict[str, list] = {}  # base view -> older registered names
_MAT_GAP = 8  # drop views only this many generations old (see below)


def _df_query_materialized(
    name: str, pre_fn, view: str, spark_tail: str, oracle: str
):
    """Register a Spark query whose shared intermediate (built by
    `pre_fn(spark, sf_dir) -> DataFrame`) is MATERIALIZED once
    (localCheckpoint) and exposed to `spark_tail` as a temp view. Spark
    INLINES WITH-CTEs, so a CTE referenced N times is recomputed N times
    (the LSH tail references sigs 6x); DuckDB materializes multi-reference
    CTEs, so the oracle keeps the plain one-statement form. Values
    identical — only the Spark plan changes.

    The view name gets a per-invocation suffix so two concurrent
    invocations in one session can't clobber each other's views. The
    materialization policy lives in session.materialize: localCheckpoint
    by default (single-node bench), a RELIABLE checkpoint (df.checkpoint
    to PYOFS_CHECKPOINT_DIR, reapable via
    spark.cleaner.referenceTracking.cleanCheckpoints) with
    PYOFS_DURABLE_MATERIALIZE=1 for fault tolerance on real clusters."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        vname = f"{view}_{next(_MAT_SEQ)}"
        # release OLD invocations' views so checkpointed plans don't
        # accumulate across bench re-runs — but only views ≥ _MAT_GAP
        # generations old: dropping the immediately-previous name would
        # race a concurrent invocation that registered it but hasn't
        # analyzed its tail yet (round-4 review finding)
        hist = _MAT_PREV.setdefault(view, [])
        hist.append(vname)
        while len(hist) > _MAT_GAP:
            spark.catalog.dropTempView(hist.pop(0))
        from ..session import materialize

        base = materialize(pre_fn(spark, sf_dir))
        base.createOrReplaceTempView(vname)
        tail = spark_tail() if callable(spark_tail) else spark_tail
        # word-boundary substitution: a raw str.replace would corrupt any
        # tail where the view name occurs as a substring of another
        # identifier or literal
        return spark.sql(_re.sub(rf"\b{_re.escape(view)}\b", vname, tail))

    fn.__name__ = name
    register(name, oracle)(fn)
    return fn


def _sql_query_materialized(
    name: str, spark_pre: str, view: str, spark_tail: str, oracle: str
):
    """SQL-text flavor of `_df_query_materialized`."""
    return _df_query_materialized(
        name,
        lambda spark, sf_dir, _p=spark_pre: spark.sql(_p),
        view,
        spark_tail,
        oracle,
    )


# ---------------------------------------------------------------------------
# Byte identity (north_star: extracted text byte-identical per url/key)
# + positional polynomial prefix fingerprint (rolling-hash style, unrolled —
# exact integer parity). Round 2 merged the former txt_fingerprint in here;
# round 3 merges the whole thing into txt_quality (same full-doc scan) to
# free a 50-window slot for the eng_advect_contour trajectory oracle.
# ---------------------------------------------------------------------------
_POLY_TERMS = " + ".join(
    f"cast(ascii(substring(text, {k + 1}, 1)) as bigint) * {pow(31, 7 - k, 1_000_000_007)}"
    for k in range(8)
)

# ---------------------------------------------------------------------------
# Quality scoring: length, word stats, stopword ratio (arithmetic-only
# word counting → exact parity; no regex divergence risk)
# ---------------------------------------------------------------------------
_WORDS_EXPR = "(length(text) - length(replace(text, ' ', '')) + 1)"


def _count_occurrences(needle: str) -> str:
    pad = f"concat(' ', text, ' ')"
    return (
        f"cast((length({pad}) - length(replace({pad}, ' {needle} ', '')))"
        f" / {len(needle) + 2} as bigint)"
    )


# Language-id (n-gram/stopword heuristic scores + argmax prediction) is
# merged into the same gated query (round 3: frees a slot in the driver's
# 50-query window for an eng_* oracle) — both are per-doc arithmetic
# projections over the same documents scan, so one query covers both
# operator rows with no semantics lost.
_sql_query(
    "txt_quality",
    f"""
    WITH scores AS (
      SELECT doc_id, lang,
             md5(text) AS text_md5,
             n_chars, length(text) = n_chars AS len_consistent,
             ({_POLY_TERMS}) % 1000000007 AS fp_poly_prefix,
             length(text) AS n_char,
             {_WORDS_EXPR} AS n_words,
             cast(floor(length(text) / 4.0e0) as bigint) AS approx_tokens,
             {round6(f'length(replace(text, chr(32), chr(95))) * 1.0e0 / {_WORDS_EXPR}')}
               AS chars_per_word,
             {_count_occurrences('the')} + {_count_occurrences('a')} AS stopword_hits,
             {round6(f"({_count_occurrences('the')} + {_count_occurrences('a')}) * 1.0e0 / {_WORDS_EXPR}")}
               AS stopword_ratio,
             {_count_occurrences('the')} + {_count_occurrences('a')}
               + {_count_occurrences('of')} AS score_en,
             {_count_occurrences('la')} + {_count_occurrences('el')}
               + {_count_occurrences('de')} AS score_es,
             {_count_occurrences('le')} + {_count_occurrences('et')}
               + {_count_occurrences('un')} AS score_fr
      FROM documents
    )
    SELECT doc_id, lang, text_md5, n_chars, len_consistent, fp_poly_prefix,
           n_char, n_words, approx_tokens, chars_per_word,
           stopword_hits, stopword_ratio, score_en, score_es, score_fr,
           CASE WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_fr THEN 'es' ELSE 'fr' END AS lang_pred
    FROM scores
    """,
)

# ---------------------------------------------------------------------------
# Exact dedup (normalized-prefix key): hash-groupBy canonicalization
# ---------------------------------------------------------------------------
_sql_query(
    "dedup_exact",
    """
    SELECT md5(substring(text, 1, 40)) AS norm_key,
           min(doc_id) AS canonical_id,
           count(*) AS n_dupes
    FROM documents
    GROUP BY md5(substring(text, 1, 40))
    HAVING count(*) > 1
    """,
)

# ---------------------------------------------------------------------------
# N-gram (word-set) Jaccard near-dup pairs on a doc subset, with a
# DOCUMENT-FREQUENCY CAP on the inverted index (round-3 skew fix).
#
# The candidate join `words a JOIN words b ON a.w = b.w` produces df(w)²
# pair rows per token ON ONE JOIN KEY — at 100 TB a stopword token is a
# quadratic blowup on a single reducer. Standard remedy (and the semantics
# here): drop tokens with df > min(85% of the doc subset, 2000) from the
# word SETS themselves — near-universal tokens carry ~zero Jaccard
# discrimination, and the absolute cap bounds per-token join fanout to
# ≤ 2000² rows regardless of corpus size. Both engines apply the identical
# cap (semi-join against the surviving-token set), so parity holds by
# construction; at sf0.01 the relative cap is ACTIVE (max df 44 > 42), so
# the gate witnesses the capped semantics, not a no-op clause.
# ---------------------------------------------------------------------------
_NGRAM_DF_REL = "0.85e0"  # relative cap: token must appear in <= 85% of docs
_NGRAM_DF_ABS = 2000  # absolute cap: bounds per-token fanout at any scale
_JACCARD_BODY = f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
    w0 AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, {{UNNEST}} AS w FROM docs
      ) t WHERE w != ''
    ),
    ok AS (
      SELECT w FROM w0 GROUP BY w
      HAVING count(*) <= least(
        cast(floor({_NGRAM_DF_REL} * (SELECT count(*) FROM docs)) as bigint),
        {_NGRAM_DF_ABS})
    ),
    words AS (SELECT doc_id, w FROM w0 WHERE w IN (SELECT w FROM ok)),
    sizes AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
           {{ROUND}} AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter * 1.0e0 / (sa.n + sb.n - inter) >= 0.6e0
"""
_JACCARD_ROUND = round6("inter * 1.0e0 / (sa.n + sb.n - inter)")
# Spark side: the capped words set is referenced 3x (self-join a/b + sizes)
# and Spark inlines CTEs -> materialize it once, WITH the df cap already
# applied inside the materialized pre (oracle keeps the 1-statement form;
# DuckDB materializes multi-ref CTEs itself).
_JACCARD_PRE_SPARK = f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
    w0 AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, explode(split(text, ' ')) AS w FROM docs
      ) t WHERE w != ''
    ),
    ok AS (
      SELECT w FROM w0 GROUP BY w
      HAVING count(*) <= least(
        cast(floor({_NGRAM_DF_REL} * (SELECT count(*) FROM docs)) as bigint),
        {_NGRAM_DF_ABS})
    )
    SELECT w0.doc_id, w0.w FROM w0 LEFT SEMI JOIN ok ON w0.w = ok.w
"""
_JACCARD_TAIL_SPARK = """
    WITH words AS (SELECT * FROM ng_words),
    sizes AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
           {ROUND} AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter * 1.0e0 / (sa.n + sb.n - inter) >= 0.6e0
""".replace("{ROUND}", _JACCARD_ROUND)
_sql_query_materialized(
    "dedup_ngram_jaccard",
    _JACCARD_PRE_SPARK,
    "ng_words",
    _JACCARD_TAIL_SPARK,
    oracle=_JACCARD_BODY.replace("{UNNEST}", "unnest(string_split(text, ' '))").replace(
        "{ROUND}", _JACCARD_ROUND
    ),
)

# ---------------------------------------------------------------------------
# MinHash signatures + LSH band join (integer arithmetic → exact)
# ---------------------------------------------------------------------------
_N_PERM = 8
_PERMS = [(2 * k + 3, 5 * k + 7) for k in range(_N_PERM)]  # (a, b) per perm
_MH_PRIME = 8191

# word code: ascii of first two chars + length (identical across engines)
_WCODE = (
    "cast(ascii(substring(w, 1, 1)) as bigint) * 10000 + "
    "CASE WHEN length(w) >= 2 THEN ascii(substring(w, 2, 1)) ELSE 0 END * 100 + "
    "length(w)"
)
_MH_COLS = ",\n             ".join(
    f"min(({a} * code + {b}) % {_MH_PRIME}) AS mh{j}"
    for j, (a, b) in enumerate(_PERMS)
)
# shingles = word BIGRAMS (positional lead join): with the tiny synthetic
# vocabulary, unigram minhash bands collide on almost every doc pair (the
# LSH candidate set degenerates to all-pairs); bigrams restore realistic
# shingle cardinality. Positions are 1-based (generate_subscripts); the
# Spark twin in tests/sql_twins.py normalizes posexplode's 0-based ones.
_POS_WORDS_DUCK = (
    "SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos, "
    "unnest(string_split(text, ' ')) AS w FROM documents"
)
_MINHASH_BODY = f"""
    WITH pw AS ({{POSWORDS}}),
    wcodes AS (
      SELECT doc_id, pos, {_WCODE} AS wcode FROM pw WHERE w != ''
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             wcode * 31627 + lead(wcode) OVER (PARTITION BY doc_id ORDER BY pos) AS code
      FROM wcodes
    ),
    codes AS (SELECT doc_id, code FROM shingles WHERE code IS NOT NULL),
    sigs AS (
      SELECT doc_id,
             {_MH_COLS}
      FROM codes GROUP BY doc_id
    )
"""

# Spark side (round 6): the window+distinct+groupBy SQL form shuffles the
# tokenized corpus three times to compute a per-document reduction; the
# Arrow kernel computes bit-identical signatures in one map-only pass
# (operators/textsig.py, guide §2.4/§4.2). min over the multiset of shingle
# codes equals min over the DISTINCT set, so skipping the distinct is
# value-preserving. Oracle keeps the independent SQL formulation.


def _minhash_sigs_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..operators.textsig import minhash_sigs_arrow
    from ..sources.tables import load_table, spread_single_split

    docs = spread_single_split(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        _os.path.join(sf_dir, "documents.parquet"),
    )
    return minhash_sigs_arrow(docs, _PERMS, _MH_PRIME)


def _dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_sigs_engine(spark, sf_dir)


_dedup_minhash_sig.__name__ = "dedup_minhash_sig"
register(
    "dedup_minhash_sig",
    _MINHASH_BODY.replace("{POSWORDS}", _POS_WORDS_DUCK) + "    SELECT * FROM sigs",
)(_dedup_minhash_sig)

_BANDS = [
    f"(mh{2 * i} * {_MH_PRIME + 1} + mh{2 * i + 1})" for i in range(_N_PERM // 2)
]
_BAND_UNION = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {i} AS band_idx, {b} AS band_key FROM sigs"
    for i, b in enumerate(_BANDS)
)
_EQ_SUM = " + ".join(
    f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)" for j in range(_N_PERM)
)
_LSH_TAIL = f"""
    , bands AS (
{_BAND_UNION}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id
    )
    SELECT cand.id_a, cand.id_b,
           ({_EQ_SUM}) * 1.0e0 / {_N_PERM} AS est_sim
    FROM cand
    JOIN sigs a ON a.doc_id = cand.id_a
    JOIN sigs b ON b.doc_id = cand.id_b
"""
# Spark references sigs 6x in the LSH tail (4 band projections + 2 exact
# re-rank joins) and inlines CTEs -> the whole shingle+minhash pipeline
# would run 6x. Materialize sigs once — fed by the map-only Arrow kernel
# (round 6), so the only exchanges left in the whole query are the band
# join itself.
#
# Round 6, second pass: the oracle's UNION ALL band projection scans sigs
# once PER BAND; the Spark tail now emits all band keys in a single pass
# via posexplode of an inline struct array (4 scans -> 1 on each join
# side; at corpus scale sigs is corpus-sized, so that is 6 fewer full
# passes across the query). Row-for-row identical bands table — the
# explode produces exactly the UNION ALL's (doc_id, band_idx, band_key)
# rows. Oracle keeps the UNION ALL form.
_BAND_STRUCTS = ", ".join(
    f"named_struct('band_idx', {i}, 'band_key', {b})"
    for i, b in enumerate(_BANDS)
)
_EQ_SUM_XY = " + ".join(
    f"(CASE WHEN x.mh{j} = y.mh{j} THEN 1 ELSE 0 END)" for j in range(_N_PERM)
)
# Fused Spark tail (round 6, second pass): the signatures ride THROUGH
# the band join, est_sim is computed pre-dedup, and the DISTINCT becomes
# a groupBy(id_a, id_b) max(est_sim) — every duplicate candidate pair
# carries the same est_sim (same two signature rows), so max == the
# oracle's single value, bit-for-bit (identical arithmetic expression).
# This deletes BOTH re-rank joins: the whole tail is one equi-join + one
# aggregate — at corpus scale two fewer shuffles of the candidate set and
# two fewer passes over the signature table; the band exchange carries
# the 8 mh columns (+64 B/row) in trade.
_LSH_TAIL_SPARK = f"""
    , bands AS (
      SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7,
             b.band_idx AS band_idx, b.band_key AS band_key
      FROM sigs LATERAL VIEW explode(array({_BAND_STRUCTS})) t AS b
    )
    SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           max(({_EQ_SUM_XY}) * 1.0e0 / {_N_PERM}) AS est_sim
    FROM bands x JOIN bands y
      ON x.band_idx = y.band_idx AND x.band_key = y.band_key
     AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
"""
_df_query_materialized(
    "dedup_minhash_lsh",
    _minhash_sigs_engine,
    "mh_sigs",
    "    WITH sigs AS (SELECT * FROM mh_sigs)" + _LSH_TAIL_SPARK,
    oracle=_MINHASH_BODY.replace("{POSWORDS}", _POS_WORDS_DUCK) + _LSH_TAIL,
)

# ---------------------------------------------------------------------------
# SimHash (12-bit) + hamming near-dup pairs
# ---------------------------------------------------------------------------
_N_BITS = 12
_BIT_TERMS = " + ".join(
    f"(CASE WHEN sum(CASE WHEN cast(floor(code / {1 << b}.0e0) as bigint) % 2 = 1 "
    f"THEN 1 ELSE -1 END) > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(_N_BITS)
)
_SIMHASH_BODY = f"""
    WITH words AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, {{UNNEST}} AS w FROM documents
      ) t WHERE w != ''
    ),
    codes AS (SELECT doc_id, {_WCODE} AS code FROM words),
    sigs AS (
      SELECT doc_id, {_BIT_TERMS} AS simhash
      FROM codes GROUP BY doc_id
    )
"""
_HAMMING_SPARK = "bit_count(a.simhash ^ b.simhash)"
_HAMMING_DUCK = "bit_count(xor(a.simhash, b.simhash))"
# Pigeonhole banding (round 2 scale fix): hamming <= 2 over 12 bits means at
# most 2 of the 3 disjoint 4-bit bands differ, so >= 1 band is EQUAL — the
# candidate join is an equi-join on (band_idx, band_bits), never all-pairs.
# Exact hamming re-check keeps the output identical to the brute-force form.
_SH_BAND_UNION = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {i} AS band_idx, "
    f"cast(floor(simhash / {16 ** i}.0e0) as bigint) % 16 AS band_bits FROM sub"
    for i in range(3)
)
_SIMHASH_TAIL = f"""
    , sub AS (SELECT doc_id, simhash FROM sigs WHERE doc_id % 5 = 0),
    bands AS (
{_SH_BAND_UNION}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_bits = y.band_bits
       AND x.doc_id < y.doc_id
    )
    SELECT cand.id_a, cand.id_b,
           a.simhash AS sim_a, b.simhash AS sim_b,
           {{HAM}} AS hamming
    FROM cand
    JOIN sub a ON a.doc_id = cand.id_a
    JOIN sub b ON b.doc_id = cand.id_b
    WHERE {{HAM}} <= 2
"""
# sigs feeds the %5 sub used 5x (3 band projections + 2 re-check joins):
# materialize the signature table once on the Spark side. The tail only
# ever reads `sub` = sigs WHERE doc_id % 5 = 0, so the pre applies that
# filter BEFORE materializing (round 6: pushes to the parquet scan — the
# old pre computed and checkpointed 5x the signatures the query can use;
# the tail's own WHERE stays and is idempotent, values unchanged).
# The Spark tail also emits all 3 band projections in ONE pass over sub
# via posexplode (same 4-scans->1 rewrite as the minhash tail; row-for-row
# identical bands table; oracle keeps the UNION ALL form).
_SH_BAND_STRUCTS = ", ".join(
    f"named_struct('band_idx', {i}, 'band_bits', "
    f"cast(floor(simhash / {16 ** i}.0e0) as bigint) % 16)"
    for i in range(3)
)
# Fused like the minhash tail: simhash rides through the band join, the
# hamming re-check filters pre-dedup (every duplicate candidate pair has
# identical simhash values, so the filter decision and the max()-deduped
# outputs equal the oracle's join-then-filter form bit-for-bit), and both
# re-check joins disappear — one equi-join + one aggregate total.
_SIMHASH_TAIL_SPARK = f"""
    , sub AS (SELECT doc_id, simhash FROM sigs WHERE doc_id % 5 = 0),
    bands AS (
      SELECT doc_id, simhash, b.band_idx AS band_idx, b.band_bits AS band_bits
      FROM sub LATERAL VIEW explode(array({_SH_BAND_STRUCTS})) t AS b
    )
    SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           max(x.simhash) AS sim_a, max(y.simhash) AS sim_b,
           max(bit_count(x.simhash ^ y.simhash)) AS hamming
    FROM bands x JOIN bands y
      ON x.band_idx = y.band_idx AND x.band_bits = y.band_bits
     AND x.doc_id < y.doc_id
    WHERE bit_count(x.simhash ^ y.simhash) <= 2
    GROUP BY x.doc_id, y.doc_id
"""
_sql_query_materialized(
    "dedup_simhash",
    _SIMHASH_BODY.replace("{UNNEST}", "explode(split(text, ' '))")
    + "    SELECT * FROM sigs WHERE doc_id % 5 = 0",
    "sh_sigs",
    "    WITH sigs AS (SELECT * FROM sh_sigs)"
    + _SIMHASH_TAIL_SPARK.replace("{HAM}", _HAMMING_SPARK),
    oracle=_SIMHASH_BODY.replace("{UNNEST}", "unnest(string_split(text, ' '))")
    + _SIMHASH_TAIL.replace("{HAM}", _HAMMING_DUCK),
)

# ---------------------------------------------------------------------------
# Brute-force cosine top-k similarity search over embeddings
# (baseline ANN path; the engine's bucketed variant lives in
#  operators/similarity.py and is pytest-checked against this)
# ---------------------------------------------------------------------------
_COS_K = 5


def _cosine_topk_sql(engine: str) -> str:
    if engine == "spark":
        pos = (
            "SELECT vec_id, posexplode(embedding) AS (pos, x) FROM embeddings"
        )
    else:
        pos = (
            "SELECT vec_id, i - 1 AS pos, embedding[i] AS x "
            "FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t"
        )
    return f"""
    WITH pos AS ({pos}),
    posd AS (SELECT vec_id, pos, cast(x as double) AS x FROM pos),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM posd GROUP BY vec_id),
    q AS (SELECT * FROM posd WHERE vec_id % 50 = 0),
    dots AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.x * c.x) AS dot
      FROM q JOIN posd c ON q.pos = c.pos AND q.vec_id != c.vec_id
      GROUP BY q.vec_id, c.vec_id
    ),
    cos AS (
      SELECT qid, cid,
             {round6('dot / (nq.nrm * nc.nrm)')} AS cosine
      FROM dots
      JOIN norms nq ON nq.vec_id = qid
      JOIN norms nc ON nc.vec_id = cid
    )
    SELECT qid, cid, cosine, sim_rank FROM (
      SELECT qid, cid, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS sim_rank
      FROM cos
    ) t WHERE sim_rank <= {_COS_K}
    """


# Round 3: the Spark side now runs the ENGINE operator (broadcast queries +
# one numpy einsum per Arrow batch + window top-k, operators/similarity.py)
# instead of the portable posexplode-join SQL twin. The SQL form joins on
# `pos` — 64 distinct keys — so its shuffle carries |Q|·|C|·dim rows:
# measured 137 s at sf1 (vs 2.4 s at sf0.1 — quadratic, not noise), while
# the einsum path does the same FLOPs vectorized in ~1 s. The oracle keeps
# the brute-force SQL (independent formulation); both floor-round cosines
# to 6 decimals before the (cosine desc, cid) rank, so parity is exact.


def _sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..operators.similarity import cosine_topk_bruteforce
    from ..sources.tables import load_table, spread_single_split

    vecs = load_table(spark, sf_dir, "embeddings")
    queries = vecs.filter(F.col("vec_id") % 50 == 0)
    # candidate side feeds the einsum kernel: fan a single-split scan out
    # so the matmul batches run across cores, not in one task (round 6)
    cand = spread_single_split(
        vecs, _os.path.join(sf_dir, "embeddings.parquet")
    )
    return cosine_topk_bruteforce(cand, queries, k=_COS_K, dim=64)


register("sim_cosine_topk", _cosine_topk_sql("duck"))(_sim_cosine_topk)

# ---------------------------------------------------------------------------
# Embedding stats per label (norm distribution — exercises array ops + agg)
# ---------------------------------------------------------------------------


def _emb_stats_sql(engine: str) -> str:
    if engine == "spark":
        pos = "SELECT vec_id, label, posexplode(embedding) AS (pos, x) FROM embeddings"
    else:
        pos = (
            "SELECT vec_id, label, i - 1 AS pos, embedding[i] AS x "
            "FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t"
        )
    return f"""
    WITH pos AS ({pos}),
    norms AS (
      SELECT vec_id, label, sqrt(sum(cast(x as double) * cast(x as double))) AS nrm
      FROM pos GROUP BY vec_id, label
    )
    SELECT label, count(*) AS n_vecs,
           {round6('min(nrm)')} AS min_norm,
           {round6('max(nrm)')} AS max_norm,
           {round6('sum(nrm) / count(*)')} AS mean_norm
    FROM norms GROUP BY label
    """


_sql_query("emb_label_stats", _emb_stats_sql("spark"), oracle=_emb_stats_sql("duck"))


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (dedup flavor over embeddings):
# all pairs with rounded cosine >= threshold, deterministic pair order.
# ---------------------------------------------------------------------------
_NEARDUP_T = "0.35e0"  # top ~13 pairs in the clustered fixture


def _cos_pairs_sql(engine: str) -> str:
    if engine == "spark":
        pos = "SELECT vec_id, posexplode(embedding) AS (pos, x) FROM embeddings WHERE vec_id % 5 = 0"
    else:
        pos = (
            "SELECT vec_id, i - 1 AS pos, embedding[i] AS x "
            "FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t "
            "WHERE vec_id % 5 = 0"
        )
    return f"""
    WITH pos AS ({pos}),
    posd AS (SELECT vec_id, pos, cast(x as double) AS x FROM pos),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM posd GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot
      FROM posd a JOIN posd b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ),
    cos AS (
      SELECT id_a, id_b, {round6("dot / (na.nrm * nb.nrm)")} AS cosine
      FROM dots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
    )
    SELECT id_a, id_b, cosine FROM cos WHERE cosine >= {_NEARDUP_T}
    """


# Round 4 (VERDICT r03 task 2): the Spark side now runs the ENGINE blocked-
# matmul threshold-pairs operator (operators/similarity.py:
# cosine_threshold_pairs) — B·(B+1)/2 bounded matmul tasks, no pos-key
# join, no |A|·|B| shuffle — while the DuckDB oracle keeps the independent
# posexplode-style all-pairs SQL. Same swap sim_cosine_topk got in round 3;
# plan asserted posexplode-free in tests/test_regrid_similarity.py.


def _dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_threshold_pairs
    from ..sources.tables import load_table

    vecs = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 5 == 0
    )
    return cosine_threshold_pairs(vecs, threshold=0.35, dim=64)


register("dedup_embedding_cosine", _cos_pairs_sql("duck"))(_dedup_embedding_cosine)


# ---------------------------------------------------------------------------
# Repetition-based quality scoring (round 5): the duplicate-n-gram signals
# web-text pipelines filter on (Gopher-style "repetition removal" — top
# n-gram share + duplicate-n-gram fraction, per document). Pure counting
# over a per-doc tokenize → exact cross-engine parity; ratios floor-round-6.
#
# Registered ROWS-ONLY: the driver's 50-slot hash window is fully occupied
# by the SURVEY §2 operator oracles (and tests/test_registry.py enforces
# oracled ⊆ window), so this query's DuckDB parity is CI-guarded instead:
# tests/test_txt_repetition.py runs the Spark body and _TXT_REPETITION_DUCK
# side-by-side and compares values exactly — the same check the driver
# would record, enforced every pytest run.
#
# Scale shape: one posexplode (map-side), ONE shuffle on doc_id for the
# lead() window, then partial-aggregated groupBys on (doc_id, gram) —
# no cross-document joins, so the plan is embarrassingly parallel over
# documents and survives any corpus size that fits its doc_id hash space.
# ---------------------------------------------------------------------------


def _repetition_sql(dialect: str) -> str:
    if dialect == "spark":
        words = (
            "SELECT doc_id, pos, word FROM documents "
            "LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word"
        )
    else:  # duckdb: unnest + generate_subscripts zip in the SELECT clause
        words = (
            "SELECT doc_id, "
            "generate_subscripts(string_split(text, ' '), 1) AS pos, "
            "unnest(string_split(text, ' ')) AS word FROM documents"
        )
    # Single-shuffle shape: every stat derives from ONE grouped subtree
    # `gcounts` = count per (doc_id, word, next_word). Word counts are the
    # sum over next_word (each word occurrence has exactly one successor,
    # NULL for the doc's last word), so the word branch can't prune the
    # lead() window out of its subplan — if it read `pairs` directly,
    # Catalyst would drop the unused Window and re-shuffle the exploded
    # words a second time on (doc_id, word). With the shared subtree the
    # window's hash(doc_id) Exchange is emitted once + ReusedExchange, and
    # every downstream groupBy/join keys on a superset of doc_id — the
    # whole query moves the exploded words over the wire exactly once
    # (plan-asserted in tests/test_txt_repetition.py).
    return f"""
    WITH words AS ({words}),
    pairs AS (
      SELECT doc_id, word,
             lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS next_word
      FROM words
    ),
    gcounts AS (
      SELECT doc_id, word, next_word, count(*) AS c
      FROM pairs GROUP BY doc_id, word, next_word
    ),
    wcounts AS (
      SELECT doc_id, word, cast(sum(c) AS bigint) AS c
      FROM gcounts GROUP BY doc_id, word
    ),
    wstats AS (
      SELECT doc_id, cast(sum(c) AS bigint) AS n_words,
             count(*) AS n_distinct_words,
             max(c) AS top_word_count
      FROM wcounts GROUP BY doc_id
    ),
    bstats AS (
      SELECT doc_id, cast(sum(c) AS bigint) AS n_bigrams,
             count(*) AS n_distinct_bigrams,
             max(c) AS top_bigram_count
      FROM gcounts WHERE next_word IS NOT NULL
      GROUP BY doc_id
    )
    SELECT w.doc_id AS doc_id, n_words, n_distinct_words,
           {round6('top_word_count * 1.0e0 / n_words')} AS top_word_frac,
           {round6('1.0e0 - n_distinct_words * 1.0e0 / n_words')} AS dup_word_frac,
           n_bigrams, n_distinct_bigrams,
           {round6('top_bigram_count * 1.0e0 / n_bigrams')} AS top_bigram_frac,
           {round6('1.0e0 - n_distinct_bigrams * 1.0e0 / n_bigrams')} AS dup_bigram_frac
    FROM wstats w JOIN bstats b ON w.doc_id = b.doc_id
    """


_TXT_REPETITION_DUCK = _repetition_sql("duck")


def _txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_repetition_sql("spark"))


_txt_repetition.__name__ = "txt_repetition"
register("txt_repetition")(_txt_repetition)


# ---------------------------------------------------------------------------
# Cross-document duplicated-span detection (round 5): the C4-style filter
# ("any span occurring verbatim elsewhere in the corpus is boilerplate").
# Per document: total 5-word-shingle instances, how many of those
# instances belong to a shingle seen in >= 2 distinct documents, and the
# duplicated-span fraction web pipelines threshold on.
#
# Rows-only + CI-guarded DuckDB parity (tests/test_txt_repetition.py),
# same rationale as txt_repetition above: the driver's 50-slot hash
# window is fully occupied by SURVEY §2 operator oracles.
#
# Scale shape (the canonical inverted index, all stages partial-agg'd):
#   explode words -> hash(doc_id) shuffle for the lead() shingle window
#   -> groupBy (doc_id, shingle) [no shuffle: subset of doc_id clustering]
#   -> corpus doc-frequency via groupBy(shingle) (map-side combined, so a
#      boilerplate shingle in 10^8 docs arrives as one row per map task —
#      never a hot partition) -> equi-join back on shingle (SMJ, AQE
#      skew-split eligible; the chosen shape because a COUNT OVER
#      (PARTITION BY shingle) window would pin every holder of a hot
#      shingle onto one task with no AQE remedy)
#   -> final groupBy doc_id.
# Shuffled bytes ~ one pass of the distinct (doc, shingle) pairs twice
# plus the aggregated DF table once; no all-pairs joins anywhere.
# ---------------------------------------------------------------------------


def _crossdoc_sql(dialect: str) -> str:
    if dialect == "spark":
        words = (
            "SELECT doc_id, pos, word FROM documents "
            "LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word"
        )
    else:
        words = (
            "SELECT doc_id, "
            "generate_subscripts(string_split(text, ' '), 1) AS pos, "
            "unnest(string_split(text, ' ')) AS word FROM documents"
        )
    leads = ", ".join(
        f"lead(word, {k}) OVER (PARTITION BY doc_id ORDER BY pos) AS w{k}"
        for k in range(1, 5)
    )
    return f"""
    WITH words AS ({words}),
    sh AS (
      SELECT doc_id, concat_ws(' ', word, w1, w2, w3, w4) AS shingle
      FROM (SELECT doc_id, word, {leads} FROM words)
      WHERE w4 IS NOT NULL
    ),
    per_doc AS (
      SELECT doc_id, shingle, count(*) AS c
      FROM sh GROUP BY doc_id, shingle
    ),
    df AS (
      SELECT shingle, count(*) AS doc_freq FROM per_doc GROUP BY shingle
    )
    SELECT p.doc_id AS doc_id,
           cast(sum(p.c) AS bigint) AS n_shingles,
           count(*) AS n_distinct_shingles,
           cast(sum(CASE WHEN d.doc_freq >= 2 THEN p.c ELSE 0 END)
                AS bigint) AS n_dup_shingles,
           {round6('sum(CASE WHEN d.doc_freq >= 2 THEN p.c ELSE 0 END)'
                   ' * 1.0e0 / sum(p.c)')} AS dup_shingle_frac,
           max(d.doc_freq) AS max_doc_freq
    FROM per_doc p JOIN df d ON p.shingle = d.shingle
    GROUP BY p.doc_id
    """


_TXT_CROSSDOC_DUCK = _crossdoc_sql("duck")

# Round 6 Spark-side restructure (values identical, pinned by the DuckDB
# twin in CI + hypothesis property tests):
#
# 1. Shingles are built from the word ARRAY (transform over sequence +
#    slice + concat_ws) instead of posexplode + a lead() window — the
#    window's hash(doc_id) exchange shuffled EVERY word of the corpus;
#    now shingle construction is map-side and the first exchange carries
#    the already-reduced (doc_id, shingle, count) rows. concat_ws over
#    slice(ws, i, 5) equals concat_ws(word, w1..w4) including empty
#    tokens; `WHERE w4 IS NOT NULL` equals taking windows i in
#    [1, size-4]. The Arrow kernel in _crossdoc_pre has since replaced
#    that SQL form, which stays in tests/sql_twins.py as its parity twin.
# 2. per_doc is materialized once; the old single-statement form inlined
#    the whole tokenize+window pipeline TWICE (verified in the executed
#    plan: two Generate/Window subtrees).
# 3. The tail over the materialized per_doc has the oracle's shape: one
#    GROUP BY shingle doc-frequency aggregate, one join back to per_doc,
#    one GROUP BY doc_id. df is referenced once: Spark inlines CTEs, so
#    each further reference would aggregate and shuffle it again. A hot
#    (boilerplate) shingle's join partition is split by AQE's skew join
#    (enabled in session.get_session).


def _crossdoc_tail_sql() -> str:
    return f"""
    WITH df AS (
      SELECT shingle, count(*) AS doc_freq FROM cd_perdoc GROUP BY shingle
    )
    SELECT p.doc_id AS doc_id,
           cast(sum(p.c) AS bigint) AS n_shingles,
           count(*) AS n_distinct_shingles,
           cast(sum(CASE WHEN d.doc_freq >= 2 THEN p.c ELSE 0 END)
                AS bigint) AS n_dup_shingles,
           {round6('sum(CASE WHEN d.doc_freq >= 2 THEN p.c ELSE 0 END)'
                   ' * 1.0e0 / sum(p.c)')} AS dup_shingle_frac,
           max(d.doc_freq) AS max_doc_freq
    FROM cd_perdoc p JOIN df d ON p.shingle = d.shingle
    GROUP BY p.doc_id
    """


def _crossdoc_pre(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per_doc from the map-only Arrow kernel over the fanned-out scan; the
    # HOF SQL form (`tests/sql_twins.CROSSDOC_PERDOC_SPARK`) is the parity
    # twin. The measured trade (both directions, see shingle_counts_arrow):
    # ~0.4 s worse at sf0.1 (serial Arrow transfer of the shingle strings),
    # 2.4x better end-to-end at sf1 and 8.6x per core on the pre —
    # interpreted per-element lambdas scale with shingle count, the kernel
    # does not.
    import os as _os

    from ..operators.textsig import shingle_counts_arrow
    from ..sources.tables import load_table, spread_single_split

    register_views(spark, sf_dir)
    docs = spread_single_split(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        _os.path.join(sf_dir, "documents.parquet"),
    )
    return shingle_counts_arrow(docs, n=5)


# rows-only registration (oracle=None): the DuckDB twin lives in CI
# (tests/test_txt_repetition.py + hypothesis property tests), NOT in
# oracle_sql() — adding it there would reorder the driver's 50-slot
# oracle-gated window.
_txt_crossdoc_shingles = _df_query_materialized(
    "txt_crossdoc_shingles",
    _crossdoc_pre,
    "cd_perdoc",
    _crossdoc_tail_sql(),
    oracle=None,
)


# ---------------------------------------------------------------------------
# Benchmark decontamination (round 5): the eval-set n-gram overlap check
# every LLM training pipeline runs before a corpus ships (GPT-3 appendix C
# / The Pile / Llama all filter training docs whose n-grams collide with
# benchmark text). Here the "benchmark" is a deterministic stand-in —
# the 5-word shingles of docs with doc_id % 97 == 0 — so the query is
# self-contained on the synthetic corpus; swapping in a real eval-set
# shingle table changes only the `bench` CTE.
#
# Per scored doc (doc_id % 97 != 0): total shingle instances, instances
# whose shingle appears in the benchmark set, the contamination fraction,
# and the ship/quarantine flag at the 5% threshold.
#
# Rows-only + CI-guarded DuckDB parity (tests/test_txt_repetition.py),
# same rationale as txt_repetition above: the driver's 50-slot hash
# window is fully occupied by SURVEY §2 operator oracles.
#
# Scale shape: the benchmark side is SMALL BY CONSTRUCTION (eval suites
# are ~10^6 shingles even when the corpus is 10^12 rows), so the overlap
# join is a broadcast hash join — zero shuffle of the corpus-side
# shingles beyond the one hash(doc_id) exchange the lead() window needs,
# and the final groupBy(doc_id) rides that same clustering. Exactly one
# corpus-wide shuffle end-to-end (plan-asserted: BroadcastHashJoin
# present, single corpus-side Exchange). A real 10^12-doc run keeps the
# same plan: broadcast dims don't grow with corpus size.
# ---------------------------------------------------------------------------


def _decontam_sql(dialect: str) -> str:
    if dialect == "spark":
        words = (
            "SELECT doc_id, pos, word FROM documents "
            "LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word"
        )
    else:
        words = (
            "SELECT doc_id, "
            "generate_subscripts(string_split(text, ' '), 1) AS pos, "
            "unnest(string_split(text, ' ')) AS word FROM documents"
        )
    leads = ", ".join(
        f"lead(word, {k}) OVER (PARTITION BY doc_id ORDER BY pos) AS w{k}"
        for k in range(1, 5)
    )
    # /*+ BROADCAST */ is a Spark hint; DuckDB parses it as a comment.
    return f"""
    WITH words AS ({words}),
    sh AS (
      SELECT doc_id, concat_ws(' ', word, w1, w2, w3, w4) AS shingle
      FROM (SELECT doc_id, word, {leads} FROM words)
      WHERE w4 IS NOT NULL
    ),
    bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
    )
    SELECT /*+ BROADCAST(b) */
           s.doc_id AS doc_id,
           count(*) AS n_shingles,
           cast(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS bigint) AS n_contaminated,
           {round6('sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)'
                   ' * 1.0e0 / count(*)')} AS contam_frac,
           (sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
            * 1.0e0 / count(*)) > 0.05 AS quarantined
    FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
    WHERE s.doc_id % 97 <> 0
    GROUP BY s.doc_id
    """


_TXT_DECONTAM_DUCK = _decontam_sql("duck")


def _txt_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_decontam_sql("spark"))


_txt_decontaminate.__name__ = "txt_decontaminate"
register("txt_decontaminate")(_txt_decontaminate)


# ---------------------------------------------------------------------------
# Dedup cluster assignment (round 5): the transitive-closure step that turns
# MinHash-LSH candidate PAIRS into a shippable keep-list — one canonical
# document (minimum doc_id) per connected component of the similarity
# graph, the shape every production web-corpus dedup ends with (C4 /
# RefinedWeb / Dolma cluster LSH pairs before dropping members).
#
# Spark side: operators/components.py — contraction, then a local finish.
# While the quotient graph of distinct label pairs is larger than the
# driver's edge budget, each round runs min-label propagation + pointer
# jumping (Kiveris et al. SoCC'14 family) on the cluster, O(log d) rounds,
# lineage cut per round, and relabels the quotient graph so its internal
# edges drop out. Once it fits, it is collected once and labelled by a
# vectorized numpy pass on the driver. The budget is
# spark.sql.autoBroadcastJoinThreshold at 16 bytes per edge (4 194 304
# edges at the session's 64 MB): the size the engine already ships to one
# node; a threshold <= 0 keeps every round on the cluster. Edges = the
# engine's own dedup_minhash_lsh pairs at est_sim >= 0.5, computed once
# per call; singleton docs keep themselves (component_id = doc_id).
#
# Rows-only + CI-guarded DuckDB parity (tests/test_components.py): the
# oracle is an independent WITH RECURSIVE reachability closure — a
# formulation that cannot scale (it enumerates every (vertex, reachable
# vertex) pair) but is exact at test scale, which is the point of an
# oracle. The driver's 50 hash slots stay on the SURVEY §2 operators.
# ---------------------------------------------------------------------------

_EDGE_T = "0.5e0"  # LSH est_sim threshold for a near-dup edge

_COMPONENTS_DUCK = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b
  FROM ({_MINHASH_BODY.replace('{POSWORDS}', _POS_WORDS_DUCK) + _LSH_TAIL}) q
  WHERE est_sim >= {_EDGE_T}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.lab
)
SELECT id AS doc_id,
       min(lab) AS component_id,
       (min(lab) = id) AS is_canonical
FROM reach GROUP BY id
"""


def _dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components
    from .queries import REGISTRY

    register_views(spark, sf_dir)
    pairs = REGISTRY["dedup_minhash_lsh"](spark, sf_dir).where(
        F.col("est_sim") >= 0.5
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    docs = spark.sql("SELECT doc_id FROM documents")
    return docs.join(
        comp.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("comp", F.col("doc_id")).alias("component_id"),
        (F.coalesce("comp", F.col("doc_id")) == F.col("doc_id")).alias(
            "is_canonical"
        ),
    )


_dedup_components.__name__ = "dedup_components"
register("dedup_components")(_dedup_components)


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (round 5): training-mix construction —
# downsample each language to a target fraction with a seedable integer
# hash, emitting the inverse-probability weight downstream loss weighting
# needs. The decision is a pure function of (doc_id, lang): re-running on
# a grown corpus keeps every previously-kept doc (append-stable, the
# property that makes incremental corpus builds reproducible), and the
# same SQL text runs on Spark and DuckDB, so parity is by construction.
#
# Hash: Knuth multiplicative step on doc_id, TOP 12 bits of the 32-bit
# product (high bits avalanche; low bits of an affine map are periodic),
# giving a uniform bucket in [0, 4096). Keep iff bucket < per-lang
# threshold. Scale shape: map-only — a scan-local filter + CASE against a
# 5-row inline dim; zero shuffles at any corpus size (plan-asserted).
#
# Round 6 overflow fix (VERDICT r5 "What's wrong #1"): the naive
# `doc_id * 2654435761` exceeds 2^63 once doc_id >= 3,474,701,543 — ANSI
# Spark throws, non-ANSI wraps two's-complement while DuckDB promotes to
# INT128, so parity and the keep decision both break at exactly the
# 10^12-row design scale. The multiply is now done in 16-bit limbs of the
# low 32 bits (only the low 32 bits of doc_id can affect a mod-2^32
# product): with l = d % 2^16 and h = (d % 2^32 - l) / 2^16,
#   (d * C) mod 2^32 = (l*C + ((h*C) mod 2^32) * 2^16) mod 2^32,
# every intermediate <= 4.6e14 < 2^63 (same discipline as
# functions/geocode.py documents for its products). The limb split's
# division is exact: the numerator is a multiple of 2^16 below 2^32, so
# the double quotient is an exact integer in BOTH engines (DuckDB's
# round-on-cast and Spark's truncate-on-cast agree on exact integers).
# For every doc_id where the old hash was well-defined the value is
# BIT-IDENTICAL, so existing fixtures and the append-stability property
# are unchanged; tests/test_sample_mix.py pins Spark==DuckDB==bigint-exact
# Python at doc_ids around 2^62.
#
# Rows-only + CI-guarded DuckDB parity (tests/test_components.py),
# driver's 50 hash slots stay on the SURVEY §2 operators.
# ---------------------------------------------------------------------------

# per-lang keep thresholds out of 4096 (en full, de half, fr/es quarter,
# zh eighth) — powers of two so weight = 4096/keep is FP-exact
_MIX_KEEP = {"en": 4096, "de": 2048, "fr": 1024, "es": 1024, "zh": 512}

_MIX_CTE = "\n      UNION ALL\n".join(
    f"      SELECT '{lang}' AS lang, {k} AS keep_n" for lang, k in _MIX_KEEP.items()
)


def mix_bucket_sql(col: str = "doc_id") -> str:
    """Overflow-safe `floor(((col * 2654435761) mod 2^32) / 2^20)` as SQL
    that parses and evaluates identically on Spark and DuckDB for the full
    nonnegative int64 range (see the limb-split derivation above)."""
    c = 2654435761
    lo = f"({col} % 65536)"
    hi = f"cast((({col} % 4294967296) - {lo}) / 65536.0e0 as bigint)"
    prod32 = f"(({lo} * {c} + (({hi} * {c}) % 4294967296) * 65536) % 4294967296)"
    return f"cast(floor({prod32} / 1048576.0e0) as bigint)"


_TXT_SAMPLE_MIX_SQL = f"""
    WITH mix AS (
{_MIX_CTE}
    ),
    u AS (
      SELECT doc_id, lang,
             {mix_bucket_sql("doc_id")} AS bucket
      FROM documents
    )
    SELECT u.doc_id AS doc_id, u.lang AS lang, u.bucket AS bucket,
           4096.0e0 / mix.keep_n AS weight
    FROM u JOIN mix ON u.lang = mix.lang
    WHERE u.bucket < mix.keep_n
"""


def _txt_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_TXT_SAMPLE_MIX_SQL)


_txt_sample_mix.__name__ = "txt_sample_mix"
register("txt_sample_mix")(_txt_sample_mix)
