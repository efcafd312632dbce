"""Spark SQL forms that the Arrow kernels in operators/textsig.py replaced.

The engine no longer runs them; they stay here as parity twins, so the
kernels are checked against the SQL they replaced (tests/test_textsig.py,
tests/test_txt_property.py).
"""

# word positions for plans/queries_text._MINHASH_BODY's {POSWORDS} slot;
# posexplode is 0-based, normalized to the DuckDB twin's 1-based positions
POS_WORDS_SPARK = (
    "SELECT doc_id, pos + 1 AS pos, w FROM "
    "(SELECT doc_id, posexplode(split(text, ' ')) AS (pos, w) FROM documents)"
)

# txt_crossdoc_shingles' per-document 5-gram shingle counts, built from the
# word array with higher-order functions (twin of shingle_counts_arrow)
CROSSDOC_PERDOC_SPARK = """
    SELECT doc_id, shingle, count(*) AS c FROM (
      SELECT doc_id, explode(CASE WHEN size(ws) >= 5
               THEN transform(sequence(1, size(ws) - 4),
                              i -> concat_ws(' ', slice(ws, i, 5)))
               ELSE array() END) AS shingle
      FROM (SELECT doc_id, split(text, ' ') AS ws FROM documents)
    ) GROUP BY doc_id, shingle
"""
