"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The queries exercise renard_spark's operators over the driver's parquet
tables: the ``documents`` table plays the corpus role (its tokens are
the "characters"), so the full KG chain — tokenize → NER → unify →
co-occurrence edges → triples — is SQL-checkable end to end.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from renard_spark.operators import cooccur, ner, tokenize, triples, unify
from renard_spark.operators.tokenize import TOKEN_RE
from renard_spark.operators.utils import local_table
from renard_spark.sources import ingest

# tokens of the driver's synthetic documents treated as the "cast":
# the dictionary-NER gazetteer for the SQL-checkable KG chain.
CAST_TOKENS = [
    "spark", "customer", "window", "join", "merge",
    "filter", "vector", "batch", "stream", "table",
]
COOCCUR_DIST = 3
DYN_WINDOW, DYN_OVERLAP = 20, 10
SRP_TABLES = 2
IVF_CENTROIDS, IVF_NPROBE = 16, 2
PQ_M, PQ_KSUB, PQ_SD = 8, 16, 8  # 64-dim vectors → 8 subspaces of 8 dims

_SQL_TOKEN_RE = TOKEN_RE.replace("'", "''")
_CAST_SQL = ", ".join(f"'{t}'" for t in CAST_TOKENS)

# shared oracle CTEs: tokenize + dictionary NER over the documents view
_BASE_CTES = f"""
WITH toks AS (
  SELECT doc_id, u.tok AS token, u.i - 1 AS tok_idx
  FROM (SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
        FROM documents),
       LATERAL (SELECT unnest(tl) AS tok, generate_subscripts(tl, 1) AS i) u
),
m AS (SELECT doc_id, tok_idx, token FROM toks WHERE token IN ({_CAST_SQL}))
"""


from renard_spark.functions.text import STOPWORDS  # noqa: E402

_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

_ORACLE_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tk
  FROM documents
), f AS (
  SELECT doc_id,
    length(text)::BIGINT AS n_chars,
    len(tk)::BIGINT AS n_tokens,
    length(text)::DOUBLE / greatest(len(tk), 1) AS mean_tok_len,
    len(list_filter(list_transform(tk, x -> lower(x)),
        x -> list_contains([{_SW_SQL}], x)))::DOUBLE / greatest(len(tk), 1)
      AS stopword_ratio,
    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
      / greatest(length(text), 1) AS punct_ratio,
    1.0 - len(list_distinct(list_transform(tk, x -> lower(x))))::DOUBLE
      / greatest(len(tk), 1) AS repetition_ratio
  FROM t
)
SELECT doc_id, n_chars, n_tokens,
  round(mean_tok_len, 6) AS mean_tok_len,
  round(stopword_ratio, 6) AS stopword_ratio,
  round(punct_ratio, 6) AS punct_ratio,
  round(repetition_ratio, 6) AS repetition_ratio,
  round(least(n_tokens / 64.0, 1.0) * 0.25
        + least(stopword_ratio * 4, 1.0) * 0.25
        + (1.0 - least(punct_ratio * 5, 1.0)) * 0.25
        + (1.0 - repetition_ratio) * 0.25, 6) AS quality_score
FROM f
"""

_ORACLE_LANGID = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tk
  FROM documents
), s AS (
  SELECT doc_id,
    len(list_filter(list_transform(tk, x -> lower(x)),
        x -> list_contains([{_SW_SQL}], x)))::DOUBLE / greatest(len(tk), 1)
      AS score
  FROM t
)
SELECT doc_id, round(score, 6) AS en_score,
       CASE WHEN score >= 0.08 THEN 'en' ELSE 'unknown' END AS lang_pred
FROM s
"""

def _oracle_langid_multi() -> str:
    from renard_spark.functions.text import STOPWORDS_BY_LANG

    langs = sorted(STOPWORDS_BY_LANG)
    ratio = {
        lang: (
            "len(list_filter(list_transform(tk, x -> lower(x)), "
            f"x -> list_contains([{', '.join(repr(w) for w in STOPWORDS_BY_LANG[lang])}], x)))::DOUBLE"
            " / greatest(len(tk), 1)"
        )
        for lang in langs
    }
    score_cols = ",\n    ".join(
        f"{ratio[lang]} AS {lang}_score" for lang in langs
    )
    best = "greatest(" + ", ".join(f"{lang}_score" for lang in langs) + ")"
    whens = "\n       ".join(
        f"WHEN {lang}_score = {best} THEN '{lang}'" for lang in langs
    )
    rounded = ", ".join(
        f"round({lang}_score, 6) AS {lang}_score" for lang in langs
    )
    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tk
  FROM documents
), s AS (
  SELECT doc_id,
    {score_cols}
  FROM t
)
SELECT doc_id, {rounded},
  CASE WHEN {best} < 0.08 THEN 'unknown'
       {whens}
       END AS lang_pred
FROM s
"""


_MINHASH_CTES = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tk
  FROM documents
), sh0 AS (
  SELECT doc_id, CASE WHEN len(tk) >= 3
    THEN list_transform(range(1, len(tk) - 1),
                        i -> array_to_string(list_slice(tk, i, i + 2), ' '))
    ELSE [array_to_string(tk, ' ')] END AS shs
  FROM t
), sh AS (
  SELECT DISTINCT doc_id, unnest(shs) AS shingle FROM sh0
), sigs AS (
  SELECT doc_id, j.seed AS seed,
         min(md5(j.seed::VARCHAR || ':' || shingle)) AS sig
  FROM sh, range(0, 8) j(seed) GROUP BY doc_id, j.seed
), bands AS (
  SELECT doc_id, (seed // 2)::INT AS band,
         md5(string_agg(sig, '|' ORDER BY seed)) AS band_key
  FROM sigs GROUP BY doc_id, (seed // 2)::INT
)
"""

_SIMHASH_CTES = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{_SQL_TOKEN_RE}')) AS tok
  FROM documents
), counts AS (
  SELECT doc_id, lower(tok) AS tok, count(*) AS cnt
  FROM toks GROUP BY doc_id, lower(tok)
), votes AS (
  SELECT doc_id, j.j AS j,
    sum(((((('0x' || substr(md5(tok), (j.j // 4)::INT + 1, 1))::INT
        >> (3 - (j.j % 4))::INT) & 1) * 2 - 1) * cnt)) AS v
  FROM counts, range(0, 64) j(j) GROUP BY doc_id, j.j
), hexd AS (
  SELECT doc_id, (j // 4)::INT AS p,
    sum(CASE WHEN v > 0 THEN (1 << (3 - (j % 4))::INT) ELSE 0 END)::INT AS digit
  FROM votes GROUP BY doc_id, (j // 4)::INT
), fp AS (
  SELECT doc_id,
         string_agg(substr('0123456789abcdef', digit + 1, 1), '' ORDER BY p)
           AS simhash_hex
  FROM hexd GROUP BY doc_id
)
"""

_ORACLE_SIMHASH = _SIMHASH_CTES + """
SELECT doc_id, simhash_hex,
       count(*) OVER (PARTITION BY simhash_hex)::BIGINT AS dup_group_size
FROM fp
"""

_ORACLE_SIMHASH_PAIRS = _SIMHASH_CTES + """
, keys AS (
  SELECT doc_id, simhash_hex, b.b AS band,
         substr(simhash_hex, b.b * 4 + 1, 4) AS band_key
  FROM fp, range(0, 4) b(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         a.simhash_hex AS ha, b2.simhash_hex AS hb
  FROM keys a JOIN keys b2
    ON a.band = b2.band AND a.band_key = b2.band_key
   AND a.doc_id < b2.doc_id
), ham AS (
  SELECT doc_a, doc_b,
    (SELECT sum(bit_count(xor(('0x' || substr(ha, p.p, 1))::INT,
                              ('0x' || substr(hb, p.p, 1))::INT)))
     FROM range(1, 17) p(p))::BIGINT AS hamming
  FROM cand
)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
"""

_ORACLE_COSINE = """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000),
n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS nrm
  FROM e
), p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (a.nrm * b.nrm) AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
), r AS (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
SELECT vec_id, neighbor_id, round(cosine, 6) AS cosine, rank::INT AS rank
FROM r WHERE rank <= 3
"""

_ORACLE_SRP_ANN = """
WITH b AS (
  SELECT vec_id, embedding,
    (SELECT string_agg(CASE WHEN
        list_sum(list_transform(list_zip(embedding, range(0, len(embedding))),
          x -> x[1]::DOUBLE *
               ((('0x' || substr(md5(j.j::VARCHAR || ':' || x[2]::VARCHAR), 1, 1))::INT
                 % 2) * 2 - 1))) > 0
        THEN '1' ELSE '0' END, '' ORDER BY j.j)
     FROM range(0, 8) j(j)) AS bucket
  FROM embeddings
), n AS (
  SELECT vec_id, embedding, bucket,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS nrm
  FROM b
), p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (a.nrm * b.nrm) AS cosine
  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
), r AS (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
SELECT vec_id, neighbor_id, round(cosine, 6) AS cosine, rank::INT AS rank
FROM r WHERE rank <= 3
"""


_ORACLE_BIO = f"""
{{base}}
, tagged AS (
  SELECT doc_id, tok_idx, token,
    CASE WHEN token IN ({_CAST_SQL}) THEN 'B-PER'
         WHEN lag(token) OVER w IN ({_CAST_SQL})
              AND regexp_full_match(token, '[a-z]{{{{6,}}}}') THEN 'I-PER'
         WHEN token = 'data' THEN 'I-PER'
         ELSE 'O' END AS bio_tag
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY tok_idx)
), mk AS (
  SELECT doc_id, tok_idx, token, bio_tag,
    (bio_tag LIKE 'B-%' OR bio_tag LIKE 'I-%') AS member,
    CASE WHEN bio_tag LIKE 'B-%' THEN 1
         WHEN bio_tag LIKE 'I-%'
              AND coalesce(lag(bio_tag) OVER w2, 'O') NOT LIKE 'B-%'
              AND coalesce(lag(bio_tag) OVER w2, 'O') NOT LIKE 'I-%' THEN 1
         ELSE 0 END AS st
  FROM tagged WINDOW w2 AS (PARTITION BY doc_id ORDER BY tok_idx)
), grp AS (
  SELECT doc_id, tok_idx, token, bio_tag, member,
         sum(CASE WHEN member THEN st ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY tok_idx
                 ROWS UNBOUNDED PRECEDING) AS ent
  FROM mk
)
SELECT doc_id, min(tok_idx)::BIGINT AS start_idx,
       (max(tok_idx) + 1)::BIGINT AS end_idx,
       string_agg(token, ' ' ORDER BY tok_idx) AS mention_str,
       substr(min_by(bio_tag, tok_idx), 3) AS tag
FROM grp WHERE member GROUP BY doc_id, ent
"""

_ORACLE_SRP_MULTI = f"""
WITH b AS (
  SELECT vec_id, t.t AS table_id,
    (SELECT string_agg(CASE WHEN
        list_sum(list_transform(list_zip(embedding, range(0, len(embedding))),
          x -> x[1]::DOUBLE *
               ((('0x' || substr(md5('t:' || t.t::VARCHAR || ':' || j.j::VARCHAR
                                  || ':' || x[2]::VARCHAR), 1, 1))::INT
                 % 2) * 2 - 1))) > 0
        THEN '1' ELSE '0' END, '' ORDER BY j.j)
     FROM range(0, 8) j(j)) AS bucket
  FROM embeddings, range(0, {SRP_TABLES}) t(t)
), n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS nrm
  FROM embeddings
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_id, b2.vec_id AS neighbor_id
  FROM b a JOIN b b2
    ON a.table_id = b2.table_id AND a.bucket = b2.bucket
   AND a.vec_id <> b2.vec_id
), p AS (
  SELECT c.vec_id, c.neighbor_id,
         list_sum(list_transform(list_zip(na.embedding, nb.embedding),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (na.nrm * nb.nrm)
           AS cosine
  FROM cand c
  JOIN n na ON na.vec_id = c.vec_id
  JOIN n nb ON nb.vec_id = c.neighbor_id
), r AS (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM p
)
SELECT vec_id, neighbor_id, round(cosine, 6) AS cosine, rank::INT AS rank
FROM r WHERE rank <= 3
"""


_ORACLE_IVF = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
           AS centroid_id
  FROM embeddings
  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {IVF_CENTROIDS}
), n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS nrm
  FROM embeddings
), cn AS (
  SELECT centroid_id, cvec,
         sqrt(list_sum(list_transform(cvec, x -> x::DOUBLE * x::DOUBLE)))
           AS cnrm
  FROM cents
), scored AS (
  SELECT v.vec_id, c.centroid_id,
         list_sum(list_transform(list_zip(v.embedding, c.cvec),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (v.nrm * c.cnrm)
           AS cos_c
  FROM n v CROSS JOIN cn c
), probes AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_c DESC, centroid_id ASC)
           AS probe_rank
  FROM scored
), assign AS (
  SELECT vec_id AS neighbor_id, centroid_id FROM probes WHERE probe_rank = 1
), cand AS (
  SELECT DISTINCT p.vec_id, a.neighbor_id
  FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
  WHERE p.probe_rank <= {IVF_NPROBE} AND p.vec_id <> a.neighbor_id
), pairs AS (
  SELECT c.vec_id, c.neighbor_id,
         list_sum(list_transform(list_zip(na.embedding, nb.embedding),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (na.nrm * nb.nrm)
           AS cosine
  FROM cand c
  JOIN n na ON na.vec_id = c.vec_id
  JOIN n nb ON nb.vec_id = c.neighbor_id
), r AS (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
)
SELECT vec_id, neighbor_id, round(cosine, 6) AS cosine, rank::INT AS rank
FROM r WHERE rank <= 3
"""


# IVFADC: coarse IVF cells exactly as _ORACLE_IVF, then PQ codes from
# the md5-ranked seed slices and ADC = per-query LUT sum in pinned
# sub_id order (list_sum over an ORDER BY sub_id list — the same
# left-to-right fold the Spark side pins).
_ORACLE_PQ = f"""
WITH cb0 AS (
  SELECT embedding AS cv,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
           AS code
  FROM embeddings
  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {PQ_KSUB}
), books AS (
  SELECT s.s::INT AS sub_id, code,
         list_transform(
           list_slice(cv, s.s * {PQ_SD} + 1, (s.s + 1) * {PQ_SD}),
           x -> x::DOUBLE) AS cvec
  FROM cb0, range(0, {PQ_M}) s(s)
), subs AS (
  SELECT vec_id, s.s::INT AS sub_id,
         list_transform(
           list_slice(embedding, s.s * {PQ_SD} + 1, (s.s + 1) * {PQ_SD}),
           x -> x::DOUBLE) AS sv
  FROM embeddings, range(0, {PQ_M}) s(s)
), lut AS (
  SELECT subs.vec_id, subs.sub_id, b.code,
         list_sum(list_transform(list_zip(sv, cvec),
                  x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d2
  FROM subs JOIN books b ON b.sub_id = subs.sub_id
), ncodes AS (
  SELECT vec_id, sub_id, code FROM (
    SELECT vec_id, sub_id, code,
           row_number() OVER (PARTITION BY vec_id, sub_id
                              ORDER BY d2, code) AS rn
    FROM lut
  ) WHERE rn = 1
), cents AS (
  SELECT embedding AS cvec,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
           AS centroid_id
  FROM embeddings
  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {IVF_CENTROIDS}
), n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS nrm
  FROM embeddings
), cn AS (
  SELECT centroid_id, cvec,
         sqrt(list_sum(list_transform(cvec, x -> x::DOUBLE * x::DOUBLE)))
           AS cnrm
  FROM cents
), probes AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_c DESC, centroid_id ASC)
           AS probe_rank
  FROM (
    SELECT v.vec_id, c.centroid_id,
           list_sum(list_transform(list_zip(v.embedding, c.cvec),
                    x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (v.nrm * c.cnrm)
             AS cos_c
    FROM n v CROSS JOIN cn c
  )
), assign AS (
  SELECT vec_id AS neighbor_id, centroid_id FROM probes WHERE probe_rank = 1
), cand AS (
  SELECT DISTINCT p.vec_id, a.neighbor_id
  FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
  WHERE p.probe_rank <= {IVF_NPROBE} AND p.vec_id <> a.neighbor_id
), adc AS (
  SELECT c.vec_id, c.neighbor_id,
         list_sum(list(l.d2 ORDER BY nc.sub_id)) AS adc_dist
  FROM cand c
  JOIN ncodes nc ON nc.vec_id = c.neighbor_id
  JOIN lut l ON l.vec_id = c.vec_id AND l.sub_id = nc.sub_id
            AND l.code = nc.code
  GROUP BY c.vec_id, c.neighbor_id
), r AS (
  SELECT vec_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM adc
)
SELECT r.vec_id, r.neighbor_id, round(r.adc_dist, 6) AS adc_dist,
       round(list_sum(list_transform(list_zip(na.embedding, nb.embedding),
               x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (na.nrm * nb.nrm), 6)
         AS cosine,
       rank::INT AS rank
FROM r
JOIN n na ON na.vec_id = r.vec_id
JOIN n nb ON nb.vec_id = r.neighbor_id
WHERE rank <= 3
"""


def _oracle_bpe_tokens() -> str:
    from renard_spark.functions.text import BPE_SPLIT_RE

    pat = BPE_SPLIT_RE.replace("'", "''")
    return rf"""
        SELECT doc_id,
          len(list_filter(regexp_extract_all(text, '{pat}'),
                          t -> trim(t) <> ''))::BIGINT AS n_bpe_tokens,
          len(regexp_split_to_array(trim(text), '\s+'))::BIGINT
            AS n_ws_tokens,
          round(len(list_filter(regexp_extract_all(text, '{pat}'),
                                t -> trim(t) <> ''))::DOUBLE
                / greatest(len(regexp_split_to_array(trim(text), '\s+')),
                           1), 6) AS bpe_per_word
        FROM documents
    """


def _oracle_bm25() -> str:
    vals = ", ".join(f"({q}, '{t}')" for q, t in BM25_QUERIES)
    return f"""
WITH toks AS (
  SELECT doc_id, lower(u) AS term
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{_SQL_TOKEN_RE}')) AS u
        FROM documents)
), postings AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), doclen AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM doclen
), dft AS (
  SELECT term, count(*) AS df FROM postings GROUP BY term
), q(query_id, term) AS (VALUES {vals}),
scored AS (
  SELECT q.query_id, p.doc_id,
         sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * (p.tf * (1.5 + 1))
             / (p.tf + 1.5 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))) AS score
  FROM q
  JOIN dft d ON d.term = q.term
  JOIN postings p ON p.term = q.term
  JOIN doclen l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
), r AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, round(score, 6) AS score, rank::INT AS rank
FROM r WHERE rank <= 5
"""


_DYN_CTES = f"""
, rk AS (
  SELECT doc_id, tok_idx, token,
         row_number() OVER (PARTITION BY doc_id ORDER BY tok_idx) - 1 AS r,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM m
), wins AS (
  SELECT doc_id, tok_idx, token, r,
         greatest(ceil((n - {DYN_WINDOW})::DOUBLE / {DYN_WINDOW - DYN_OVERLAP})::INT + 1, 1) AS n_win
  FROM rk
), mw AS (
  SELECT doc_id, tok_idx, token,
         unnest(generate_series(
            greatest(ceil((r - {DYN_WINDOW} + 1)::DOUBLE / {DYN_WINDOW - DYN_OVERLAP})::INT, 0),
            least(floor(r::DOUBLE / {DYN_WINDOW - DYN_OVERLAP})::INT, n_win - 1)))::INT AS window_id
  FROM wins
), b AS (
  SELECT doc_id, window_id, tok_idx - {COOCCUR_DIST} AS bs,
         tok_idx + 1 + {COOCCUR_DIST} AS be
  FROM mw
), wpairs AS (
  SELECT DISTINCT m1.doc_id, m1.window_id, m1.tok_idx AS i, m2.tok_idx AS j,
         m1.token AS t1, m2.token AS t2
  FROM mw m1
  JOIN mw m2 ON m1.doc_id = m2.doc_id AND m1.window_id = m2.window_id
            AND m1.tok_idx < m2.tok_idx
  JOIN b ON b.doc_id = m1.doc_id AND b.window_id = m1.window_id
        AND m1.tok_idx >= b.bs AND m2.tok_idx + 1 <= b.be
), dyn_edges AS (
  SELECT doc_id, window_id, least(t1, t2) AS src, greatest(t1, t2) AS dst,
         count(*)::BIGINT AS weight
  FROM wpairs WHERE t1 <> t2
  GROUP BY doc_id, window_id, least(t1, t2), greatest(t1, t2)
)
"""


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# Split-size target for the INPUT-DERIVED spread below: one task per
# ~128 KB of compressed parquet. Parquet text compresses ~4-6x, and the
# post-spread work (regex tokenize + shingle/NLP chains) expands and
# chews ~50-500 ms of CPU per ~0.5-0.75 MB of raw text — i.e. each
# task carries 20-50x the per-task scheduling overhead, the standard
# granularity target. The count is CAPPED at the default parallelism,
# so for any non-trivial input (>= parallelism x 128 KB, ~4 MB at 32
# cores) this reduces to the previous fan-out-to-parallelism behavior,
# and at production scale the scan already has >= parallelism splits
# and no repartition happens at all. Measured (12-query mixed sample,
# alternated sessions): fan-out 32 on the 594 KB sf0.1 corpus = 39.1s
# mean vs 27.9-29.9s for the 4/8/16-way spreads this policy lands in —
# a flat optimum, so the constant is not finicky. AQE alone was
# measured too (repartition without a count): it coalesces the 594 KB
# exchange to ONE partition — bytes understate the ~20x tokenize
# expansion — serializing the CPU-heavy stages (35.7s).
SPREAD_SPLIT_BYTES = 128 * 1024


def _input_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes of a data path (file or directory), via the Hadoop
    FileSystem so any supported scheme works."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(p).getLength())


def _toks_ckpt(toks: DataFrame, surfaces) -> DataFrame:
    """Filter the token table to the surfaces a query actually consumes
    and truncate lineage: downstream operators reference the token
    table several times, and every reference would otherwise re-execute
    the regexp+explode tokenization of the WHOLE corpus. The filtered
    table is mention-scale, not corpus-scale — materializing it once is
    the stage-table pattern the StageRunner uses in the pipeline."""
    return toks.filter(
        F.col("token").isin(sorted(surfaces))
    ).localCheckpoint(eager=False)


# the spread DECISION (how many ways should this corpus scan spread,
# or None for "already split enough") is pure input metadata for a
# static bench/gate directory — probing it costs a full .rdd plan
# translation (~40-90ms per query construction) plus a filesystem
# stat, so cache it per (path, parallelism) for the life of the
# process. No query RESULT is cached: every query still computes from
# the parquet scan.
_SPREAD_DECISION: dict = {}


def _spread_by_input(
    spark: SparkSession, path: str, df: DataFrame, part_col: str,
    split_bytes: int,
) -> DataFrame:
    """``df`` (a scan of ``path``) hash-repartitioned on ``part_col``
    into one split per ``split_bytes`` of input, capped at the default
    parallelism; returned as is when the scan is already split at
    least that wide. The decision is cached in _SPREAD_DECISION."""
    par = spark.sparkContext.defaultParallelism
    key = (path, par, split_bytes)
    if key not in _SPREAD_DECISION:
        n = min(par, max(1, -(-_input_bytes(spark, path) // split_bytes)))
        have = df.rdd.getNumPartitions()
        _SPREAD_DECISION[key] = None if have >= n else n
    n = _SPREAD_DECISION[key]
    if n is None:
        return df
    return df.repartition(n, F.col(part_col))


def _docs_spread(
    spark: SparkSession, sf_dir: str, split_bytes: int = SPREAD_SPLIT_BYTES
) -> DataFrame:
    """_documents(...) spread INPUT-SIZE-ADAPTIVELY (round guide §2:
    derive the partitioning from the data, not from a constant tuned
    to either local mode or the cluster): target one split per
    ``split_bytes`` of input, capped at the default parallelism
    (the previous behavior, which any input >= parallelism x 128 KB
    still gets), skipped when the scan is already split at least that
    wide (production corpora). Operators whose per-byte CPU is far
    above the tokenize norm (the winnowing rolling-hash) pass a
    smaller ``split_bytes`` so their task granularity stays in the
    same 50-500 ms band."""
    return _spread_by_input(
        spark, f"{sf_dir}/documents.parquet", _documents(spark, sf_dir),
        "doc_id", split_bytes,
    )


def _mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs)
    return ner.dictionary_ner(toks, CAST_TOKENS)


def _long_doc_id(df: DataFrame) -> DataFrame:
    # engine stage tables key doc_id as string; the driver's DuckDB
    # oracle sees the parquet BIGINT — align the comparison dtype.
    return df.withColumn("doc_id", F.col("doc_id").cast("long"))


def _await_stream(q, timeout_sec: int) -> None:
    # awaitTermination(t) returns False on timeout with the query
    # still running; reading the output directory then would gate a
    # partial result as a confusing rows mismatch. Fail loudly instead
    # (stop() so the half-written sink isn't left running).
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            "streaming query still running after %ds — host too "
            "loaded for the gate's replay window" % timeout_sec
        )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (text-analysis op) — JVM regexp; spread only
    because the test corpus is one parquet split (see _docs_spread)."""
    return _docs_spread(spark, sf_dir).select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0))
        .cast("long")
        .alias("n_tokens"),
    )


def q_naive_characters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaiveCharacterUnifier: per-doc characters by surface form."""
    unified = unify.naive_unify(_mentions(spark, sf_dir))
    return _long_doc_id(
        unify.characters_table(unified).select(
            "doc_id", "char_id",
            F.col("mention_count").cast("long").alias("mention_count"),
        )
    )


def q_char_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document entity salience (operators/unify.
    character_salience): frequency damped by first-appearance lateness
    over the unified mentions — head-entity selection for the KG
    build. Doc lengths come straight off the text scan (one narrow
    regexp count, no second tokenize-explode pass)."""
    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    dl = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0))
        .cast("long")
        .alias("n_toks"),
    )
    toks = tokenize.tokens(docs).filter(
        F.col("token").isin(list(CAST_TOKENS))
    )
    unified = unify.naive_unify(ner.dictionary_ner(toks, CAST_TOKENS))
    return _long_doc_id(unify.character_salience(unified, dl))


def q_graph_characters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphRulesCharacterUnifier PARITY path (per-doc alias graph in
    applyInPandas) on the driver corpus. Cast tokens are distinct
    lowercase single-token names — no hypocorism/title/last/first rule
    links — so components are singletons and the oracle is the exact
    naive grouping: this drives the full Arrow parity machinery through
    the value-hash gate."""
    unified = unify.graph_rules_unify(_mentions(spark, sf_dir))
    return _long_doc_id(
        unify.characters_table(unified).select(
            "doc_id", "char_id",
            F.col("mention_count").cast("long").alias("mention_count"),
        )
    )


def q_scale_characters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document graph-rules unification (``graph_rules_unify``),
    mention counts per character, on the driver corpus — same
    singleton-component argument as q_graph_characters, so the naive
    grouping is the oracle."""
    unified = unify.graph_rules_unify(_mentions(spark, sf_dir))
    counted = unified.groupBy("doc_id", "char_id").agg(
        F.count(F.lit(1)).cast("long").alias("mention_count")
    )
    return _long_doc_id(counted)


def q_cooccur_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence character network, token unit, dist=3."""
    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    return _long_doc_id(
        cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens").select(
            "doc_id", "src", "dst", F.col("weight").cast("long").alias("weight")
        )
    )


def q_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship output: (subj, pred, obj, weight) interaction triples."""
    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    return _long_doc_id(
        triples.edges_to_triples(edges).select(
            "doc_id", "subj", "pred", "obj",
            F.col("weight").cast("long").alias("weight"),
        )
    )


KG_NEG_K = 2


def q_kg_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic filtered negative sampling over the flagship
    triple table (operators/triples.negative_samples): per distinct
    corpus-level positive, KG_NEG_K md5-slotted corruption candidates
    joined against the two-phase-ranked entity vocabulary, minus
    true-positive and self collisions — the training-pair generator a
    KG-embedding pipeline (TransE-family) needs downstream of the KG
    build. Hash-slot arithmetic is the engines' shared md5 idiom, so
    the survivor set is bit-identical under the oracle."""
    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    trip = triples.edges_to_triples(edges)
    neg = triples.negative_samples(trip, k=KG_NEG_K)
    return neg.select(
        "subj", "pred", "obj",
        F.col("neg_i").cast("long").alias("neg_i"),
        "neg_obj",
    )


DIFF_OLD_SOURCES = ["src0", "src1", "src2", "src3", "src4"]
DIFF_NEW_SOURCES = ["src5", "src6", "src7", "src8", "src9"]


def q_graph_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG snapshot diffing at the TRIPLE level
    (operators/triples.graph_diff): the corpus-global (subj, rel, obj)
    relation graph of two source slices ("yesterday's" ingest vs
    "today's") full-outer joined on the triple key → added / removed /
    changed / same — the incremental-maintenance delta a periodically
    rebuilt KG table needs (what MERGE INTO against the previous
    snapshot would compute, emitted as a table). Each slice runs the
    full relation chain (mentions → pattern triples → resolve →
    min-occurrence edges) with the source filter pushed to the scan."""
    from renard_spark.operators import relations

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))

    def slice_triples(srcs: list[str]) -> DataFrame:
        d = docs.filter(F.col("source").isin(srcs))
        toks = tokenize.tokens(d).filter(
            F.col("token").isin(list(CAST_TOKENS))
            | F.lower(F.col("token")).isin(sorted(REL_VERBS))
        ).localCheckpoint(eager=False)
        unified = unify.naive_unify(
            ner.dictionary_ner(toks, CAST_TOKENS)
        ).localCheckpoint(eager=False)
        raw = relations.pattern_relations(unified, toks, verbs=REL_VERBS)
        # unified feeds name_to_char directly (see resolve_triples doc)
        resolved = relations.resolve_triples(raw, unified)
        edges = relations.relational_edges(
            resolved, min_rel_occurrences=REL_MIN_OCC
        )
        return edges.groupBy("subj_char", "rel", "obj_char").agg(
            F.sum("n").alias("w")
        )

    out = triples.graph_diff(
        slice_triples(DIFF_OLD_SOURCES),
        slice_triples(DIFF_NEW_SOURCES),
        keys=("subj_char", "rel", "obj_char"),
        weight_col="w",
    )
    return out.select(
        "subj_char",
        "rel",
        "obj_char",
        F.col("w_old").cast("long").alias("w_old"),
        F.col("w_new").cast("long").alias("w_new"),
        "status",
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup fingerprints: md5(text) + duplicate-group size."""
    from pyspark.sql import Window

    docs = _docs_spread(spark, sf_dir)
    w = Window.partitionBy("fp")
    return (
        docs.select("doc_id", F.md5("text").alias("fp"))
        .withColumn("dup_group_size", F.count(F.lit(1)).over(w).cast("long"))
    )



def _dynamic_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    windowed = cooccur.add_window_ids(mentions, DYN_WINDOW, DYN_OVERLAP)
    return cooccur.cooccurrence_edges(
        windowed, COOCCUR_DIST, "tokens", group_col="window_id"
    )


def q_dynamic_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic character networks: one co-occurrence graph per window
    of N mentions (step N−overlap), reference graph_extraction.py:400-409."""
    return _long_doc_id(
        _dynamic_edges(spark, sf_dir).select(
            "doc_id", "window_id", "src", "dst",
            F.col("weight").cast("long").alias("weight"),
        )
    )


def q_edge_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal validity spans of dynamic edges
    (operators/triples.edge_validity): first/last active window,
    active-snapshot count, and peak-weight window (ties → earliest)
    per KG edge — the temporal companion of cumulative_edges and
    graph_diff, one aggregation over the dynamic edge table."""
    ev = triples.edge_validity(_dynamic_edges(spark, sf_dir))
    return _long_doc_id(
        ev.select(
            "doc_id", "src", "dst",
            F.col("first_w").cast("long").alias("first_w"),
            F.col("last_w").cast("long").alias("last_w"),
            F.col("n_windows").cast("long").alias("n_windows"),
            F.col("peak_w").cast("long").alias("peak_w"),
        )
    )


def q_cumulative_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative dynamic graph: per-edge running weight across
    snapshots (reference graph_utils.py:11-42)."""
    cum = triples.cumulative_edges(_dynamic_edges(spark, sf_dir))
    return _long_doc_id(
        cum.select(
            "doc_id", "window_id", "src", "dst",
            F.col("weight").cast("long").alias("weight"),
        )
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings scan, spread with the same input-size-derived policy
    as `_docs_spread` (one split per SPREAD_SPLIT_BYTES of compressed
    input, capped at the default parallelism, skipped when the scan is
    already that wide): the similarity/ANN queries do heavy per-row
    vector math (hyperplane dot products, codebook L2 scans) that
    otherwise runs single-task on a single-file scan. hash(vec_id)
    partitioning is reusable by every downstream vec_id-keyed step;
    filters still push below the repartition. Measured (9-query
    similarity family, 3-rep interleaved per-query A/B): 18.0s
    unspread vs 14.2s spread, every query improved."""
    path = f"{sf_dir}/embeddings.parquet"
    return _spread_by_input(
        spark, path, spark.read.parquet(path), "vec_id", SPREAD_SPLIT_BYTES
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from renard_spark.functions import text as ftext

    q = ftext.quality_scores(_docs_spread(spark, sf_dir))
    return q.select(
        "doc_id", "n_chars", "n_tokens",
        *[
            F.round(c, 6).alias(c)
            for c in ("mean_tok_len", "stopword_ratio", "punct_ratio",
                      "repetition_ratio", "quality_score")
        ],
    )


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from renard_spark.functions import text as ftext

    return ftext.language_id(_docs_spread(spark, sf_dir)).select(
        "doc_id", F.round("en_score", 6).alias("en_score"), "lang_pred"
    )


def q_language_id_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from renard_spark.functions import text as ftext

    return ftext.language_id_multi(_docs_spread(spark, sf_dir))


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from renard_spark.functions import text as ftext

    return ftext.fingerprints(_docs_spread(spark, sf_dir))


WINNOW_K, WINNOW_W = 8, 4

_ORACLE_WINNOW = rf"""
            WITH t AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
              FROM documents
            ), g AS (
              SELECT doc_id, i.i AS pos,
                     ('0x' || substr(md5(substr(s, i.i::INT, {WINNOW_K})),
                                     1, 8))::BIGINT AS h
              FROM t,
                   LATERAL (SELECT unnest(range(1, length(s) - {WINNOW_K} + 2))
                            AS i) i(i)
              WHERE length(s) >= {WINNOW_K}
            ), wsel AS (
              SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY doc_id) AS ng,
                     min(struct_pack(h := h, np := -pos)) OVER
                       (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {WINNOW_W - 1} FOLLOWING) AS s
              FROM g
            )
            SELECT DISTINCT doc_id, (-(s).np)::BIGINT AS pos,
                   ((s).h)::BIGINT AS fp
            FROM wsel WHERE pos <= ng - {WINNOW_W - 1}
"""


WINNOW_MIN_SHARED = 25  # the 30-word synthetic vocab makes low
# thresholds dense (108k pairs at 2); 25 keeps the gate output
# meaningful (~1.5k genuinely-overlapping pairs)


def q_winnow_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match step: near-dup pairs by winnowing-fingerprint
    overlap — equi join on the fingerprint value, never quadratic."""
    from renard_spark.functions import text as ftext

    # winnowing computes a rolling hash + per-window rightmost-min
    # over EVERY k-gram — measured ~10x the per-byte CPU of the
    # tokenize-family queries (8.6s at the default 5-way spread vs
    # 4.3s fully fanned at sf0.1), so its split target is 8x smaller
    return ftext.winnow_near_dups(
        _docs_spread(spark, sf_dir, split_bytes=SPREAD_SPLIT_BYTES // 8),
        k=WINNOW_K, w=WINNOW_W, min_shared=WINNOW_MIN_SHARED,
    )


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-token counting (GPT-2 split regex) vs whitespace
    words — the model-token budget proxy of a training pipeline."""
    from renard_spark.functions import text as ftext

    return ftext.bpe_token_counts(_docs_spread(spark, sf_dir))


def q_winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (rolling k-gram hashes, per-window
    rightmost-min selection) — the local-fingerprinting dedup primitive
    behind the DuckDB hash gate."""
    from renard_spark.functions import text as ftext

    # same per-byte-CPU outlier as q_winnow_dups: 8x smaller splits
    return ftext.winnow_fingerprints(
        _docs_spread(spark, sf_dir, split_bytes=SPREAD_SPLIT_BYTES // 8),
        k=WINNOW_K, w=WINNOW_W,
    )


def q_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from renard_spark.functions import dedup

    sh = dedup.shingles(_docs_spread(spark, sf_dir), w=3)
    return dedup.lsh_band_keys(dedup.minhash_signatures(sh, 8), 4, 8)


def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from renard_spark.functions import dedup

    pairs = dedup.minhash_dedup(
        _documents(spark, sf_dir), w=3, num_hashes=8, bands=4, threshold=0.2
    )
    return pairs.select(
        "doc_a", "doc_b", "inter", "union_",
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from renard_spark.functions import dedup

    g = dedup.simhash_dup_groups(dedup.simhash(_docs_spread(spark, sf_dir)))
    return g.select(
        "doc_id",
        F.lower(F.lpad(F.hex("simhash"), 16, "0")).alias("simhash_hex"),
        "dup_group_size",
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k via the blocked-GEMM path (similarity.
    cosine_topk_blocked) — bit-identical to the sequential-fold
    cosine_topk/DuckDB oracle (GEMM selects, a vectorized element-order
    fold recomputes survivor cosines), with n·n_blocks·(k+4) candidate
    rows through the final window instead of n² join rows."""
    from renard_spark.functions import similarity

    emb = _embeddings(spark, sf_dir).filter(F.col("vec_id") < 1000)
    t = similarity.cosine_topk_blocked(emb, k=3)
    return t.select(
        "vec_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_srp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from renard_spark.functions import similarity

    emb = _embeddings(spark, sf_dir)
    t = similarity.srp_lsh_topk(emb, k=3, n_bits=8)
    return t.select(
        "vec_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation over the events table
    (the batch twin of the Structured Streaming job)."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    out = fevents.windowed_event_aggregates(ev, "1 hour")
    return out.select(
        "window_start", "event_type", "n",
        F.round("total_value", 6).alias("total_value"),
    )


def q_event_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING event-time windows (functions/events.
    sliding_event_aggregates): 1-hour windows every 15 minutes — each
    event lands in exactly 4 epoch-aligned windows; the same expression
    runs under Structured Streaming after withWatermark. The oracle
    replicates the window replication arithmetically."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    out = fevents.sliding_event_aggregates(ev, "1 hour", "15 minutes")
    return out.select(
        "window_start", "event_type", "n",
        F.round("total_value", 6).alias("total_value"),
    )


ROLL_K = 5


def q_event_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling features over the previous 5 events
    (functions/events.rolling_features): recent-activity windows, the
    feature-engineering staple — ROWS frame on a deterministic
    (ts, event_id) order, one shuffle by user."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    out = fevents.rolling_features(ev, k=ROLL_K)
    # history-less events carry NULL mean/max/delta — coalesce to 0 for
    # the value-hash compare (roll_n = 0 still marks them)
    return out.select(
        "event_id", "user_id", "ts",
        F.round("value", 6).alias("value"),
        "roll_n",
        F.round(F.coalesce("roll_sum", F.lit(0.0)), 6).alias("roll_sum"),
        F.round(F.coalesce("roll_mean", F.lit(0.0)), 6).alias("roll_mean"),
        F.round(F.coalesce("roll_max", F.lit(0.0)), 6).alias("roll_max"),
        F.round(F.coalesce("delta_prev", F.lit(0.0)), 6).alias(
            "delta_prev"
        ),
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization (30-min gap) over the events table."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    s = fevents.sessionize(ev, 30)
    return s.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization (the streaming-capable
    twin of user_sessions; identical membership incl. the exact-gap
    boundary — see functions/events.session_window_aggregates)."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    s = fevents.session_window_aggregates(ev, 30)
    return s.select(
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: multi-table SRP candidates
    (OR-amplified recall — single-table SRP at 8 bits misses ~70% of
    cosine-0.9 pairs) + exact-cosine threshold."""
    from renard_spark.functions import dedup

    emb = _embeddings(spark, sf_dir)
    pairs = dedup.embedding_near_dups(
        emb, threshold=0.4, n_bits=8, n_tables=SRP_TABLES
    )
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def q_bio_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIO decode (reference ner_entities, ner_utils.py:126-180) over a
    deterministic tagging of the corpus tokens: cast tokens are B-PER,
    a following long lowercase token continues as I-PER, and 'data' is
    an orphan I-PER exercising resolve_inconsistencies — the same
    decode every tagger (incl. model_ner) feeds."""
    from pyspark.sql import Window

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("tok_idx")
    prev = F.lag("token").over(w)
    tagged = toks.withColumn(
        "bio_tag",
        F.when(F.col("token").isin(CAST_TOKENS), F.lit("B-PER"))
        .when(
            prev.isin(CAST_TOKENS) & F.col("token").rlike(r"^[a-z]{6,}$"),
            F.lit("I-PER"),
        )
        .when(F.col("token") == "data", F.lit("I-PER"))
        .otherwise(F.lit("O")),
    )
    ents = ner.bio_decode(tagged, resolve_inconsistencies=True)
    return _long_doc_id(ents).select(
        "doc_id",
        F.col("start_idx").cast("long").alias("start_idx"),
        F.col("end_idx").cast("long").alias("end_idx"),
        "mention_str", "tag",
    )


def q_srp_multi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table SRP ANN: OR-amplified candidates across independent
    bucket tables — the recall-hardened twin of srp_ann_topk."""
    from renard_spark.functions import similarity

    emb = _embeddings(spark, sf_dir)
    t = similarity.srp_multi_topk(emb, k=3, n_bits=8, n_tables=SRP_TABLES)
    return t.select(
        "vec_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic md5-sampled codebook, nprobe cells per
    query, exact cosine re-rank within cells."""
    from renard_spark.functions import similarity

    emb = _embeddings(spark, sf_dir)
    t = similarity.ivf_topk(
        emb, k=3, n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE
    )
    return t.select(
        "vec_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC ANN (functions/similarity.pq_adc_topk, Jégou et al.
    product quantization): vectors compress to 8 one-byte-scale codes,
    queries probe 2 IVF cells, candidates are scored by 8 LUT lookups
    (never the full vector) and the survivors get an exact-cosine
    re-rank column. The billion-vector index layout."""
    from renard_spark.functions import similarity

    emb = _embeddings(spark, sf_dir)
    return similarity.pq_adc_topk(
        emb, k=3, m=PQ_M, ksub=PQ_KSUB,
        n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
    )


def q_capped_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs with a hot-bucket cap (max_bucket=5):
    bounded candidate fanout even for boilerplate-heavy buckets."""
    from renard_spark.functions import dedup

    pairs = dedup.minhash_dedup(
        _documents(spark, sf_dir), w=3, num_hashes=8, bands=4,
        threshold=0.2, max_bucket=5,
    )
    return pairs.select(
        "doc_a", "doc_b", "inter", "union_",
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ACTION: MinHash near-dup pairs → connected-component
    clusters → canonical keep/drop per doc (smallest id survives).
    The oracle replicates the clustering with a recursive CTE."""
    from renard_spark.functions import dedup

    docs = _documents(spark, sf_dir)
    pairs = dedup.minhash_dedup(
        docs, w=3, num_hashes=8, bands=4, threshold=0.2
    )
    return dedup.dedup_clusters(docs, pairs).select(
        "doc_id", "cluster_id", F.col("keep").cast("long").alias("keep")
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup action (functions/dedup.dedup_keep_best):
    same MinHash clusters as dedup_groups, but the survivor is the
    highest-quality member (ties → smallest id). Scores are rounded to
    6 decimals BEFORE the argmax on both engines so last-ulp double
    drift cannot flip near-tie survivors."""
    from renard_spark.functions import dedup
    from renard_spark.functions import text as ftext

    docs = _documents(spark, sf_dir)
    pairs = dedup.minhash_dedup(
        docs, w=3, num_hashes=8, bands=4, threshold=0.2
    )
    q = ftext.quality_scores(_docs_spread(spark, sf_dir)).select(
        "doc_id", F.round("quality_score", 6).alias("quality_score")
    )
    return dedup.dedup_keep_best(docs, pairs, q).select(
        "doc_id", "cluster_id",
        F.col("keep").cast("long").alias("keep"), "best_id",
    )


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded 16-bit keys, hamming ≤ 3."""
    from renard_spark.functions import dedup

    sim = dedup.simhash(_docs_spread(spark, sf_dir))
    return dedup.simhash_near_pairs(sim, max_hamming=3, bands=4).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


# ---- alias-linking unification (multi-name components) -------------------
#
# The plain cast corpus degenerates to singleton components (every cast
# token is a distinct single-token name), so the alias-LINKING rules of
# GraphRulesCharacterUnifier were hash-gated only via pytest. These two
# queries synthesize two-token PER mentions from adjacent (first, last)
# token bigrams, case-alternated by position parity, which makes the
# engine's rule set produce REAL multi-name components whose surviving
# edge set is exactly SQL-expressible:
#   * shared-FIRST-token pairs always link and are never contradicted
#     (the contradiction needs equal case-sensitive lasts);
#   * shared-LAST-token pairs link, but the contradiction pass removes
#     exactly the direct edge when both firsts are non-empty and differ
#     case-sensitively — so only MIXED-case pairs (initcap vs lower,
#     case-sensitively different lasts) survive.
# Property-tested equal to unify_core.unify_doc over random corpora in
# tests/test_linked_oracle_semantics.py; the DuckDB oracle is the same
# edge set + recursive-CTE connected components.
LINK_FIRSTS = ["spark", "customer", "vector", "window"]
LINK_LASTS = ["table", "stream", "batch", "join"]
_LINK_FIRSTS_SQL = ", ".join(f"'{t}'" for t in LINK_FIRSTS)
_LINK_LASTS_SQL = ", ".join(f"'{t}'" for t in LINK_LASTS)

_LINKED_CTES = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, u.tok AS token, u.i - 1 AS tok_idx
  FROM (SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
        FROM documents),
       LATERAL (SELECT unnest(tl) AS tok, generate_subscripts(tl, 1) AS i) u
), pairs0 AS (
  SELECT doc_id, tok_idx, token AS t1,
         lead(token) OVER (PARTITION BY doc_id ORDER BY tok_idx) AS t2
  FROM toks
), big AS (
  SELECT doc_id, tok_idx,
    CASE WHEN tok_idx % 2 = 0
      THEN upper(substr(t1, 1, 1)) || substr(t1, 2) || ' '
           || upper(substr(t2, 1, 1)) || substr(t2, 2)
      ELSE t1 || ' ' || t2 END AS mention,
    t1 AS fi, t2 AS la, (tok_idx % 2 = 0) AS up
  FROM pairs0
  WHERE t1 IN ({_LINK_FIRSTS_SQL}) AND t2 IN ({_LINK_LASTS_SQL})
), names AS (
  SELECT DISTINCT doc_id, mention, fi, la, up FROM big
), ed AS (
  SELECT a.doc_id, a.mention AS u, b.mention AS v
  FROM names a JOIN names b ON a.doc_id = b.doc_id AND a.mention < b.mention
  WHERE a.fi = b.fi OR (a.la = b.la AND a.up <> b.up)
), e2 AS (
  SELECT doc_id, u, v FROM ed
  UNION SELECT doc_id, v AS u, u AS v FROM ed
), r(doc_id, u, l) AS (
  SELECT doc_id, mention, mention FROM names
  UNION
  SELECT e2.doc_id, e2.v, r.l
  FROM r JOIN e2 ON e2.doc_id = r.doc_id AND e2.u = r.u
), comp AS (
  SELECT doc_id, u AS mention, min(l) AS char_id FROM r GROUP BY doc_id, u
), nn AS (
  SELECT doc_id, char_id, count(*)::BIGINT AS n_names
  FROM comp GROUP BY doc_id, char_id
)
"""

_ORACLE_LINKED = _LINKED_CTES + """
SELECT b.doc_id, c.char_id, nn.n_names, count(*)::BIGINT AS mention_count
FROM big b
JOIN comp c ON c.doc_id = b.doc_id AND c.mention = b.mention
JOIN nn ON nn.doc_id = b.doc_id AND nn.char_id = c.char_id
GROUP BY b.doc_id, c.char_id, nn.n_names
"""

# name helpers (Character.longest/shortest/most_frequent_name,
# character_unification.py:23-39) with the engine's canonical
# tie-breaks: longest = (max length, lexicographically largest),
# shortest = (min length, smallest), most frequent = (max occurrence
# count, smallest name)
_ORACLE_CHAR_NAMES = _LINKED_CTES + """
, occ AS (
  SELECT b.doc_id, c.char_id, b.mention, count(*) AS cnt
  FROM big b JOIN comp c ON c.doc_id = b.doc_id AND c.mention = b.mention
  GROUP BY b.doc_id, c.char_id, b.mention
), picks AS (
  SELECT doc_id, char_id, mention, cnt,
         row_number() OVER (PARTITION BY doc_id, char_id
            ORDER BY length(mention) DESC, mention DESC) AS r_long,
         row_number() OVER (PARTITION BY doc_id, char_id
            ORDER BY length(mention) ASC, mention ASC) AS r_short,
         row_number() OVER (PARTITION BY doc_id, char_id
            ORDER BY cnt DESC, mention ASC) AS r_freq
  FROM occ
)
SELECT doc_id, char_id,
       max(CASE WHEN r_long = 1 THEN mention END) AS longest_name,
       max(CASE WHEN r_short = 1 THEN mention END) AS shortest_name,
       max(CASE WHEN r_freq = 1 THEN mention END) AS most_frequent_name
FROM picks GROUP BY doc_id, char_id
"""


def _linked_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic two-token PER mentions: adjacent (first, last) token
    bigrams, initcap'd at even token positions (see comment above)."""
    from pyspark.sql import Window

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("tok_idx")
    nxt = F.lead("token").over(w)
    cased = F.when(
        F.col("tok_idx") % 2 == 0,
        F.concat(F.initcap("token"), F.lit(" "), F.initcap(F.col("nxt"))),
    ).otherwise(F.concat(F.col("token"), F.lit(" "), F.col("nxt")))
    return (
        toks.withColumn("nxt", nxt)
        .filter(F.col("token").isin(LINK_FIRSTS) & F.col("nxt").isin(LINK_LASTS))
        .select(
            "doc_id",
            F.col("tok_idx").cast("int").alias("start_idx"),
            (F.col("tok_idx") + 2).cast("int").alias("end_idx"),
            cased.alias("mention_str"),
            F.lit("PER").alias("tag"),
        )
    )


def q_linked_characters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphRules unification on a corpus with REAL alias links: the
    shared-first/shared-last rules and the contradiction pass all fire
    and the per-doc components have ≥2 names (n_names column)."""
    ments = _linked_mentions(spark, sf_dir)
    unified = unify.graph_rules_unify(ments)
    chars = unify.characters_table(unified)
    return _long_doc_id(
        chars.select(
            "doc_id", "char_id",
            F.size("names").cast("long").alias("n_names"),
            F.col("mention_count").cast("long").alias("mention_count"),
        )
    )


def q_character_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character name helpers (longest/shortest/most_frequent_name,
    reference character_unification.py:23-39) on the multi-name linked
    corpus, where the tie-breaks and the names/mentions distinction
    actually matter."""
    ments = _linked_mentions(spark, sf_dir)
    unified = unify.graph_rules_unify(ments)
    chars = unify.characters_table(unified)
    return _long_doc_id(
        chars.select(
            "doc_id", "char_id",
            "longest_name", "shortest_name", "most_frequent_name",
        )
    )


# Deterministic token→person-name mapping that makes the HYPOCORISM
# gazetteer rule fire (the one alias-link rule with no gated query):
# three families, each a formal hub + two nicknames. The gazetteer
# relates hub↔nickname only (nickname↔nickname is NOT related — e.g.
# bob~bobby is False), so per-doc components depend on WHICH names
# co-occur: {bob, bobby} stays two singletons, {bob, bobby, robert}
# unifies through the hub — real graph structure, exact SQL oracle.
HYPO_MAP = {
    "spark": "robert", "vector": "bob", "customer": "bobby",
    "window": "elizabeth", "table": "liz", "batch": "beth",
    "merge": "william", "stream": "bill", "filter": "billy",
}
# the exact hub↔nickname pairs (verified against the gazetteer in
# tests/test_round3_fixes.py) — the oracle's edge list
HYPO_EDGES = [
    ("robert", "bob"), ("robert", "bobby"),
    ("elizabeth", "liz"), ("elizabeth", "beth"),
    ("william", "bill"), ("william", "billy"),
]


def q_hypocorism_characters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphRules unification where the HYPOCORISM rule does the
    linking: corpus tokens map to formal-name/nickname surfaces and
    components form exactly through gazetteer relatedness (reference
    hypocorisms.py:73-84 + character_unification.py:255-259)."""
    hmap = F.create_map(*[F.lit(x) for kv in HYPO_MAP.items() for x in kv])
    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs)
    ments = (
        toks.withColumn("_name", hmap[F.col("token")])
        .filter(F.col("_name").isNotNull())
        .select(
            "doc_id",
            F.col("tok_idx").cast("int").alias("start_idx"),
            (F.col("tok_idx") + 1).cast("int").alias("end_idx"),
            F.col("_name").alias("mention_str"),
            F.lit("PER").alias("tag"),
        )
    )
    unified = unify.graph_rules_unify(ments)
    chars = unify.characters_table(unified)
    return _long_doc_id(
        chars.select(
            "doc_id", "char_id",
            F.size("names").cast("long").alias("n_names"),
            F.col("mention_count").cast("long").alias("mention_count"),
        )
    )


# Token→titled-name mapping that exercises title gender, the GENDER
# CONTRADICTION cut, and the title-removal link rule: per family,
# 'mr X' (MALE) and 'mrs X' (FEMALE) link to bare 'X' via
# title-removal equality, while their own direct shared-last edge is
# cut by the gender contradiction — so the component structure is a
# pure function of which of the three forms co-occur in the doc
# (7 presence patterns, enumerated against unify_doc in
# tests/test_round3_fixes.py).
GENDER_MAP = {
    "spark": "mr smith", "vector": "mrs smith", "customer": "smith",
    "window": "mr jones", "table": "mrs jones", "batch": "jones",
}


def q_gendered_characters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Title-gender inference + gender-contradiction edge removal +
    title-removal linking behind the hash gate (reference
    character_unification.py:261-327 + infer_gender)."""
    gmap = F.create_map(*[F.lit(x) for kv in GENDER_MAP.items() for x in kv])
    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs)
    ments = (
        toks.withColumn("_name", gmap[F.col("token")])
        .filter(F.col("_name").isNotNull())
        .select(
            "doc_id",
            F.col("tok_idx").cast("int").alias("start_idx"),
            (F.col("tok_idx") + 1).cast("int").alias("end_idx"),
            F.col("_name").alias("mention_str"),
            F.lit("PER").alias("tag"),
        )
    )
    unified = unify.graph_rules_unify(ments)
    chars = unify.characters_table(unified)
    return _long_doc_id(
        chars.select(
            "doc_id", "char_id", "gender",
            F.size("names").cast("long").alias("n_names"),
            F.col("mention_count").cast("long").alias("mention_count"),
        )
    )


PATTERN = ["table", "table"]  # adjacent repeat — common in the corpus


def q_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_vocab (reference utils.py:137-152): token→id in FIRST
    corpus appearance order (corpus order = (doc_id, tok_idx))."""
    from renard_spark.operators.utils import make_vocab

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs).withColumn(
        "_ord",
        F.col("doc_id").cast("long") * 1000000 + F.col("tok_idx"),
    )
    return make_vocab(toks, "token", "_ord").select(
        "value", F.col("vocab_id").cast("long").alias("vocab_id")
    )


def q_pattern_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search_pattern (reference utils.py:68-79): all start indices of
    an exact token subsequence, as an array higher-order scan."""
    from renard_spark.operators.utils import search_pattern

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs)
    arrs = toks.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("tok_idx", "token"))),
            lambda s: s["token"],
        ).alias("tokens")
    )
    out = arrs.select(
        "doc_id",
        F.explode(search_pattern(F.col("tokens"), PATTERN)).alias("pos"),
    )
    return _long_doc_id(out.select("doc_id", F.col("pos").cast("long").alias("pos")))


# Deterministic coref chains over the corpus: chain 0 = every 'spark'
# occurrence + every 'data' occurrence; chain 1 = same for 'customer';
# chain 2 = spark AND customer occurrences + data — so the chain→
# character argmax (occurrence count, ties to the smaller char_id) has
# real competition, and assigned chain mentions (the 'data' rows, plus
# cross-assigned cast rows from chain 2) flow into mention counts
# through the union+dedup exactly like reference
# character_unification.py:48-96.
COREF_CHAIN_TOKENS = [("spark",), ("customer",), ("spark", "customer")]


def q_coref_characters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaiveCharacterUnifier WITH coreference chains behind the gate:
    chain×character occurrence counts → window argmax winner →
    chain-mention assignment → union + dedup → per-character counts.

    Tokenization (the regexp+explode over every document) runs ONCE:
    the token table is filtered to the union of cast + chain surfaces
    and lineage-truncated, then the chain table is built in a single
    pass by exploding a literal token→chain-ids map — no per-chain
    re-scan, no union of branches that each re-tokenize the corpus."""
    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs)
    token_chains: dict[str, list[int]] = {}
    for cid, members in enumerate(COREF_CHAIN_TOKENS):
        for t in list(members) + ["data"]:
            token_chains.setdefault(t, []).append(cid)
    needed = sorted(set(CAST_TOKENS) | set(token_chains))
    toks_small = toks.filter(F.col("token").isin(needed)).localCheckpoint(
        eager=False
    )
    chain_map = F.map_from_arrays(
        F.array(*[F.lit(t) for t in token_chains]),
        F.array(
            *[
                F.array(*[F.lit(c) for c in cs])
                for cs in token_chains.values()
            ]
        ),
    )
    corefs = toks_small.filter(
        F.col("token").isin(sorted(token_chains))
    ).select(
        "doc_id",
        F.explode(chain_map[F.col("token")]).alias("chain_id"),
        F.col("tok_idx").cast("int").alias("start_idx"),
        (F.col("tok_idx") + 1).cast("int").alias("end_idx"),
        F.col("token").alias("mention_str"),
    )
    unified = unify.naive_unify(
        ner.dictionary_ner(toks_small, CAST_TOKENS), corefs_df=corefs
    )
    chars = unify.characters_table(unified)
    return _long_doc_id(
        chars.select(
            "doc_id", "char_id",
            F.col("mention_count").cast("long").alias("mention_count"),
        )
    )


# relation verbs chosen from the corpus vocabulary, disjoint from the
# cast (a verb that is also a mention could never sit strictly between
# two adjacent mentions anyway, but disjointness keeps the oracle plain)
REL_VERBS = {"scan": "scans", "sort": "sorts", "group": "groups"}
# min=1: the corpus rarely repeats an exact (subj, rel, obj) within a
# doc, so min=2 would leave a 3-row gate; the >=min filter semantics
# are unit territory, the CHAIN is what this query hash-checks
REL_MIN_OCC = 1

# synthetic KB over the corpus vocabulary for the entity-linking gate:
# shared aliases ("merge", "batch", "vector") force disambiguation;
# the two kb_vector_* entities are score-symmetric so NIL ties occur.
KB_ENTITIES = [
    # (entity_id, aliases, context profile, popularity prior)
    ("kb_spark", ["spark"], ["query", "fast", "table"], 0.9),
    ("kb_join", ["join", "merge"], ["hash", "key", "table"], 0.7),
    ("kb_mergesort", ["merge", "sort"], ["order", "row", "slow"], 0.5),
    ("kb_stream", ["stream", "batch"], ["window", "data"], 0.8),
    ("kb_batch", ["batch"], ["big", "group"], 0.4),
    ("kb_window", ["window"], ["agg", "group"], 0.6),
    ("kb_customer", ["customer"], ["order", "value"], 0.8),
    ("kb_filter", ["filter"], ["scan", "column", "small"], 0.6),
    ("kb_vector_a", ["vector"], ["data", "scan"], 0.5),
    ("kb_vector_b", ["vector"], ["row", "line"], 0.5),
    ("kb_table", ["table"], ["scan", "row", "column"], 0.7),
]
LINK_PRIOR_W = 0.4
LINK_MARGIN = 1e-9

# shared oracle chain for the KB-linking queries: appended after
# _BASE_CTES (which provides toks), ends with linked(doc_id, tok_idx,
# surface, entity_id['NIL' on ties], score, n_cands)
_LINK_CTES = f"""
kb(entity_id, alias, prior) AS (
  VALUES {", ".join(f"('{e}', '{a}', {p}::DOUBLE)" for e, als, _, p in KB_ENTITIES for a in als)}
), kbctx(entity_id, ctx_token, n_ctx) AS (
  VALUES {", ".join(f"('{e}', '{c}', {len(ctx)})" for e, _, ctx, _ in KB_ENTITIES for c in ctx)}
), kment AS (
  SELECT doc_id, tok_idx, token AS surface, lower(token) AS al
  FROM toks
  WHERE lower(token) IN ({", ".join(sorted({f"'{a}'" for _, als, _, _ in KB_ENTITIES for a in als}))})
), kcand AS (
  SELECT mt.doc_id, mt.tok_idx, mt.surface, k.entity_id, k.prior
  FROM kment mt JOIN kb k ON mt.al = k.alias
), dprof AS (
  SELECT DISTINCT doc_id, lower(token) AS ctx_token FROM toks
), ov AS (
  SELECT c.doc_id, c.entity_id,
         count(*)::DOUBLE / greatest(max(kc.n_ctx), 1) AS ctx_score
  FROM (SELECT DISTINCT doc_id, entity_id FROM kcand) c
  JOIN kbctx kc ON kc.entity_id = c.entity_id
  JOIN dprof dp ON dp.doc_id = c.doc_id
               AND dp.ctx_token = kc.ctx_token
  GROUP BY c.doc_id, c.entity_id
), kscored AS (
  SELECT c.doc_id, c.tok_idx, c.surface, c.entity_id,
         {LINK_PRIOR_W!r}::DOUBLE * c.prior
         + {1.0 - LINK_PRIOR_W!r}::DOUBLE
           * coalesce(ov.ctx_score, 0.0::DOUBLE) AS score
  FROM kcand c LEFT JOIN ov ON ov.doc_id = c.doc_id
                           AND ov.entity_id = c.entity_id
), kranked AS (
  SELECT doc_id, tok_idx, surface, entity_id, score,
         row_number() OVER w AS rn, lead(score) OVER w AS nxt,
         count(*) OVER (PARTITION BY doc_id, tok_idx) AS n_cands
  FROM kscored
  WINDOW w AS (PARTITION BY doc_id, tok_idx
               ORDER BY score DESC, entity_id ASC)
), linked AS (
  SELECT doc_id, tok_idx, surface,
         CASE WHEN nxt IS NOT NULL
               AND score - nxt < {LINK_MARGIN!r}::DOUBLE
              THEN 'NIL' ELSE entity_id END AS entity_id,
         round(score, 6) AS score, n_cands::BIGINT AS n_cands
  FROM kranked WHERE rn = 1
)"""


def q_relation_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full relation-extraction chain behind the gate: in-sentence
    pattern triples (consecutive character mentions with the FIRST
    relation verb strictly between them), name→character resolution
    (identify_character semantics — unique owner, ambiguous→NULL,
    self-relations dropped), and min-occurrence relational edges
    (reference relation_extraction.py + graph_extraction.py:738-751)."""
    from renard_spark.operators import relations

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    # cast surfaces for mentions + verb surfaces for the between-check;
    # pattern_relations consumes only mention-position and verb rows
    toks = tokenize.tokens(docs).filter(
        F.col("token").isin(list(CAST_TOKENS))
        | F.lower(F.col("token")).isin(sorted(REL_VERBS))
    ).localCheckpoint(eager=False)
    unified = unify.naive_unify(
        ner.dictionary_ner(toks, CAST_TOKENS)
    ).localCheckpoint(eager=False)
    raw = relations.pattern_relations(unified, toks, verbs=REL_VERBS)
    # resolve only needs (doc_id, char_id, names): the unified stage
    # table feeds name_to_char directly (multiplicity-insensitive),
    # skipping characters_table's unused aggregations + left join
    resolved = relations.resolve_triples(raw, unified)
    edges = relations.relational_edges(
        resolved, min_rel_occurrences=REL_MIN_OCC
    )
    return _long_doc_id(
        edges.select(
            "doc_id", "subj_char", "rel", "obj_char",
            F.col("n").cast("long").alias("n"),
        )
    )


def q_entity_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KB entity linking behind the hash gate (operators/linking.py):
    alias candidate generation via a broadcast alias index, context-
    overlap + popularity-prior disambiguation, NIL on score ties —
    the entity-linking stage of the KG contract, generalizing
    identify_character's unique-owner-else-NULL semantics (reference
    relation_extraction.py:227-237). The token table is filtered to
    the KB's alias ∪ context vocabulary and checkpointed once: both
    consumers (mention candidates, per-doc context profile) read the
    mention-scale table, not the corpus scan."""
    from renard_spark.operators import linking

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    kb = local_table(
        spark, KB_ENTITIES,
        "entity_id string, aliases array<string>,"
        " context array<string>, prior double",
    )
    vocab = {a for _, als, _, _ in KB_ENTITIES for a in als} | {
        c for _, _, ctx, _ in KB_ENTITIES for c in ctx
    }
    toks = _toks_ckpt(tokenize.tokens(docs), vocab)
    out = linking.link_entities(
        toks, kb, prior_weight=LINK_PRIOR_W, min_margin=LINK_MARGIN
    )
    return _long_doc_id(
        out.select(
            "doc_id",
            F.col("tok_idx").cast("long").alias("tok_idx"),
            "surface",
            # NIL (abstained) links surface as a sentinel: the gate's
            # value-hash sorts column values and NULL doesn't order
            F.coalesce("entity_id", F.lit("NIL")).alias("entity_id"),
            "score",
            "n_cands",
        )
    )


PPJOIN_T = 0.5
PPJOIN_W = 3  # 3-token shingles — same item universe as the MinHash path


def q_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering
    (functions/dedup.prefix_jaccard_pairs, SSJoin/PPJoin): every pair
    with 3-shingle-set Jaccard ≥ 0.5, no false negatives — the
    auditable complement of the MinHash-LSH candidate path, over the
    same shingle universe. Candidates come from an equi-join on
    rare-first prefix shingles only; the shingle-df table is
    equi-joined (never broadcast)."""
    from renard_spark.functions import dedup

    docs = _docs_spread(spark, sf_dir)
    return dedup.prefix_jaccard_pairs(docs, PPJOIN_T, w=PPJOIN_W)


SHARED_SPAN_N = 8


def q_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring dedup (functions/dedup.shared_spans, Lee et al.
    2022 semantics): maximal token spans whose every 8-gram occurs in
    ≥2 distinct documents — the spans a curation pipeline cuts from
    every copy. Gram document-frequency is one corpus-token shuffle;
    duplicated positions come back via one gram equi-join; run-merging
    is a per-doc window. Nothing quadratic, no UDF."""
    from renard_spark.functions import dedup

    docs = _docs_spread(spark, sf_dir)
    return _long_doc_id(dedup.shared_spans(docs, n=SHARED_SPAN_N))


EDIT_MAX_DIST = 150


def q_edit_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup by EDIT DISTANCE (functions/dedup.
    edit_distance_verify): LSH band candidates verified with the
    thresholded banded-DP levenshtein (JVM built-in, O(len·max_dist)
    per pair, -1 early exit) — the edit-level complement of the
    Jaccard verifier, catching char-level mutations that shingle bags
    dilute. Candidate volume is bounded by the same banding as
    near_dup_pairs."""
    from renard_spark.functions import dedup

    docs = _documents(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    sh = dedup.shingles(docs.repartition(par), 3).localCheckpoint(
        eager=True
    )
    sigs = dedup.minhash_signatures(sh, 8)
    cands = dedup.lsh_candidates(dedup.lsh_band_keys(sigs, 4, 8))
    return dedup.edit_distance_verify(cands, docs, EDIT_MAX_DIST)


PRIORITY_N = 10


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (functions/sampling.
    priority_sample — Duffield/Lund/Thorup priority sampling): top-N
    token-length-weighted docs per source, priorities w/u from a
    md5-keyed uniform. Only exact double ops (power-of-two division +
    one IEEE division, no ln/pow), so priorities are bit-identical
    across engines and sit behind the value hash unrounded."""
    from renard_spark.functions import sampling

    docs = _docs_spread(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).alias("w"),
    )
    out = sampling.priority_sample(docs, "w", PRIORITY_N, group_col="source")
    return out.select("doc_id", "source", "priority")


MENTION_CTX_W = 5


def q_mention_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distant-supervision example extraction (operators/utils.
    mention_contexts): ±W-token snippets around every cast mention —
    the op that turns KG mentions into NER/linking training examples.
    One tokenize pass feeds both the mention tagger and the per-doc
    token arrays (lazy localCheckpoint); the snippet is sliced inside
    the join projection so whole documents never cross a shuffle."""
    from renard_spark.operators import utils as op_utils

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs).localCheckpoint(eager=False)
    ments = ner.dictionary_ner(toks, CAST_TOKENS).select(
        "doc_id", "start_idx", "end_idx", "mention_str"
    )
    dt = tokenize.doc_tokens(toks)
    out = op_utils.mention_contexts(ments, dt, w=MENTION_CTX_W)
    return _long_doc_id(
        out.select(
            "doc_id",
            F.col("start_idx").cast("long").alias("start_idx"),
            "mention_str",
            F.col("ctx_start").cast("long").alias("ctx_start"),
            "snippet",
        )
    )


def q_relation_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed 2-hop composition over the relational edges
    (operators/relations.relation_paths): the path-evidence table for
    KG-completion rules (a -rel1-> m -rel2-> b with midpoint count and
    bottleneck support), downstream of the full relation chain."""
    from renard_spark.operators import relations

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs).filter(
        F.col("token").isin(list(CAST_TOKENS))
        | F.lower(F.col("token")).isin(sorted(REL_VERBS))
    ).localCheckpoint(eager=False)
    unified = unify.naive_unify(
        ner.dictionary_ner(toks, CAST_TOKENS)
    ).localCheckpoint(eager=False)
    raw = relations.pattern_relations(unified, toks, verbs=REL_VERBS)
    # resolve only needs (doc_id, char_id, names): the unified stage
    # table feeds name_to_char directly (multiplicity-insensitive),
    # skipping characters_table's unused aggregations + left join
    resolved = relations.resolve_triples(raw, unified)
    edges = relations.relational_edges(
        resolved, min_rel_occurrences=REL_MIN_OCC
    )
    # the edge table feeds BOTH sides of the composition self-join —
    # truncate so the relation chain executes once, not twice
    edges = _long_doc_id(edges).localCheckpoint(eager=False)
    return relations.relation_paths(edges).select(
        "doc_id", "subj", "rel1", "rel2", "obj",
        F.col("n_mids").cast("long").alias("n_mids"),
        F.col("support").cast("long").alias("support"),
    )


RULE_MIN_SUPPORT = 1


def q_kg_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIE-style horn-rule mining (operators/relations.mine_rules)
    over the corpus KG the relation chain materializes: for every
    rel1∧rel2⇒rel3 rule, distinct-pair support, body size, PCA
    denominator, and the two confidences. The KG-completion loop's
    rule-discovery stage, fed by the same gated relation chain as
    relation_paths."""
    from renard_spark.operators import relations

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs).filter(
        F.col("token").isin(list(CAST_TOKENS))
        | F.lower(F.col("token")).isin(sorted(REL_VERBS))
    ).localCheckpoint(eager=False)
    unified = unify.naive_unify(
        ner.dictionary_ner(toks, CAST_TOKENS)
    ).localCheckpoint(eager=False)
    raw = relations.pattern_relations(unified, toks, verbs=REL_VERBS)
    # resolve only needs (doc_id, char_id, names): the unified stage
    # table feeds name_to_char directly (multiplicity-insensitive),
    # skipping characters_table's unused aggregations + left join
    resolved = relations.resolve_triples(raw, unified)
    edges = relations.relational_edges(
        resolved, min_rel_occurrences=REL_MIN_OCC
    )
    return relations.mine_rules(edges, min_support=RULE_MIN_SUPPORT)


def q_alias_priors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-form prior distillation (operators/linking.alias_priors)
    over this corpus's link decisions: P(entity | alias) + abstention
    counts per alias — the bootstrap table the NEXT linking round's
    ``prior`` column comes from. Reuses the entity_links chain, so the
    gate covers link → distill end to end."""
    from renard_spark.operators import linking

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    kb = local_table(
        spark, KB_ENTITIES,
        "entity_id string, aliases array<string>,"
        " context array<string>, prior double",
    )
    vocab = {a for _, als, _, _ in KB_ENTITIES for a in als} | {
        c for _, _, ctx, _ in KB_ENTITIES for c in ctx
    }
    toks = _toks_ckpt(tokenize.tokens(docs), vocab)
    links = linking.link_entities(
        toks, kb, prior_weight=LINK_PRIOR_W, min_margin=LINK_MARGIN
    )
    return linking.alias_priors(links)


def q_stream_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING behind the hash gate: the documents table
    read as a file stream (availableNow), tokenized with the identical
    narrow operator, written through a checkpointed parquet sink, read
    back — the stream==batch invariant checked against the DuckDB
    tokenization oracle rather than only pytest."""
    import tempfile

    import os

    batch_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    out_dir = tempfile.mkdtemp(prefix="renard_stream_toks_")
    data, ckpt = os.path.join(out_dir, "data"), os.path.join(out_dir, "ckpt")
    # the file stream source needs a DIRECTORY; the test table is one
    # parquet file — link it into a temp input dir
    in_dir = os.path.join(out_dir, "in")
    os.makedirs(in_dir)
    os.symlink(
        f"{sf_dir}/documents.parquet",
        os.path.join(in_dir, "documents.parquet"),
    )
    sdf = spark.readStream.schema(batch_schema).parquet(in_dir)
    toks = tokenize.tokens(ingest.normalize_documents(sdf))
    q = (
        toks.select("doc_id", "tok_idx", "token")
        .writeStream.format("parquet")
        .option("path", data)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    return _long_doc_id(spark.read.parquet(data)).select(
        "doc_id", F.col("tok_idx").cast("long").alias("tok_idx"), "token"
    )


def q_stream_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL KG construction behind the hash gate: the flagship
    triples output (tokenize → dictionary NER → per-doc unification →
    co-occurrence edges → triple emit) computed by Structured Streaming
    over THREE micro-batches (maxFilesPerTrigger=1 over a 3-file copy
    of the corpus) through ``foreachBatch`` running the IDENTICAL batch
    operators, each batch appended as an idempotent ``batch_id=N``
    partition (overwrite + _SUCCESS skip — replay-safe, the
    streaming/ingest.write_batch_tables contract). Every stage is
    doc-local, so the union of micro-batch outputs must equal the batch
    run — checked here against the SAME DuckDB oracle as ``triples``,
    not merely against the batch plan."""
    import os
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="renard_stream_triples_")
    in_dir = os.path.join(out_dir, "in")
    data = os.path.join(out_dir, "data")
    ckpt = os.path.join(out_dir, "ckpt")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(3).write.parquet(in_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        toks = tokenize.tokens(ingest.normalize_documents(batch_df))
        ments = ner.dictionary_ner(toks, CAST_TOKENS)
        unified = unify.naive_unify(ments)
        mentions = unified.select(
            "doc_id", "char_id", "start_idx", "end_idx"
        )
        edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
        out = triples.edges_to_triples(edges)
        part = os.path.join(data, f"batch_id={batch_id}")
        if os.path.exists(os.path.join(part, "_SUCCESS")):
            return
        out.write.mode("overwrite").parquet(part)

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        sdf.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 300)
    return _long_doc_id(spark.read.parquet(data)).select(
        "doc_id", "subj", "pred", "obj",
        F.col("weight").cast("long").alias("weight"),
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup-index maintenance behind the hash gate
    (streaming/dedup.run_incremental_dedup): the (fp → min keep_id,
    count) state merged across three micro-batches with a commutative
    monoid, so the final state version must equal the BATCH dedup of
    the whole corpus regardless of the batch split — checked against
    the same GROUP BY md5(text) oracle shape as exact_dedup."""
    import os
    import tempfile

    from renard_spark.streaming import dedup as sdedup

    out_dir = tempfile.mkdtemp(prefix="renard_stream_dedup_")
    in_dir = os.path.join(out_dir, "in")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(3).write.parquet(in_dir)
    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    final = sdedup.run_incremental_dedup(spark, sdf, out_dir)
    return final.select("fp", "keep_id", F.col("n").cast("long").alias("n"))


def q_stream_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL entity linking behind the hash gate: the KB-linking
    stage (alias candidates → context/prior disambiguation → NIL on
    ties) run by Structured Streaming over three micro-batches through
    ``foreachBatch`` with idempotent ``batch_id=N`` partitions. The
    context profile is DOC-local (per-doc token set), so per-batch
    linking must equal batch linking — the union of micro-batch
    outputs is checked against the SAME DuckDB oracle as
    ``entity_links``."""
    import os
    import tempfile

    from renard_spark.operators import linking

    out_dir = tempfile.mkdtemp(prefix="renard_stream_links_")
    in_dir = os.path.join(out_dir, "in")
    data = os.path.join(out_dir, "data")
    ckpt = os.path.join(out_dir, "ckpt")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(3).write.parquet(in_dir)

    kb = local_table(
        spark, KB_ENTITIES,
        "entity_id string, aliases array<string>,"
        " context array<string>, prior double",
    )
    vocab = sorted(
        {a for _, als, _, _ in KB_ENTITIES for a in als}
        | {c for _, _, ctx, _ in KB_ENTITIES for c in ctx}
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        toks = tokenize.tokens(
            ingest.normalize_documents(batch_df)
        ).filter(F.col("token").isin(vocab))
        out = linking.link_entities(
            toks, kb, prior_weight=LINK_PRIOR_W, min_margin=LINK_MARGIN
        )
        part = os.path.join(data, f"batch_id={batch_id}")
        if os.path.exists(os.path.join(part, "_SUCCESS")):
            return
        out.select(
            "doc_id", "tok_idx", "surface",
            F.coalesce("entity_id", F.lit("NIL")).alias("entity_id"),
            "score", "n_cands",
        ).write.mode("overwrite").parquet(part)

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        sdf.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 300)
    return _long_doc_id(spark.read.parquet(data)).select(
        "doc_id",
        F.col("tok_idx").cast("long").alias("tok_idx"),
        "surface",
        "entity_id",
        "score",
        F.col("n_cands").cast("long").alias("n_cands"),
    )


def q_global_characters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-DOCUMENT canonicalization (north_rule: entity linking +
    canonicalization over the whole table): distributed unification at
    corpus scope over lowercase (first, last) bigram mentions. The same
    surface in different documents resolves to one global entity, and
    shared-first-token alias links merge name variants corpus-wide
    (shared-last pairs are contradiction-cut; property test
    test_linked_oracle_semantics proves components == group-by-first
    for the all-lowercase corpus). Output keeps per-document provenance
    (doc_id rides through unify_distributed as a passthrough column)."""
    from pyspark.sql import Window

    from renard_spark.operators.unify_scale import unify_distributed

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("tok_idx")
    nxt = F.lead("token").over(w)
    ments = (
        toks.withColumn("nxt", nxt)
        .filter(F.col("token").isin(LINK_FIRSTS) & F.col("nxt").isin(LINK_LASTS))
        .select(
            "doc_id",
            F.col("tok_idx").cast("int").alias("start_idx"),
            (F.col("tok_idx") + 2).cast("int").alias("end_idx"),
            F.concat("token", F.lit(" "), "nxt").alias("mention_str"),
            F.lit("PER").alias("tag"),
        )
    )
    # the whole mention table is one scope; doc_id passes through
    unified = unify_distributed(ments)
    out = unified.groupBy("doc_id", "char_id").agg(
        F.size(F.first("names")).cast("long").alias("n_names"),
        F.count(F.lit(1)).cast("long").alias("mention_count"),
    )
    return _long_doc_id(out)


def q_kb_characters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full north-rule chain in one gate: mention detection →
    cross-document canonicalization (global alias components) → KB
    entity linking → majority-vote canonical KB ids
    (linking.canonicalize_links). Each (first, last) bigram mention
    instance votes with the doc-level KB link of its LAST token; the
    component's canonical entity is the vote argmax (ties → smallest
    entity_id), 'NIL' when no member linked."""
    from pyspark.sql import Window

    from renard_spark.operators import linking

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    kb = local_table(
        spark, KB_ENTITIES,
        "entity_id string, aliases array<string>,"
        " context array<string>, prior double",
    )
    # ONE tokenize pass feeds both consumers (bigram mention detection
    # needs full adjacency; linking needs alias+context tokens)
    toks = tokenize.tokens(docs).localCheckpoint(eager=False)
    w = Window.partitionBy("doc_id").orderBy("tok_idx")
    big = (
        toks.withColumn("nxt", F.lead("token").over(w))
        .filter(
            F.col("token").isin(LINK_FIRSTS) & F.col("nxt").isin(LINK_LASTS)
        )
        .select(
            "doc_id",
            "tok_idx",
            F.col("token").alias("fi"),
            F.concat("token", F.lit(" "), "nxt").alias("mention"),
        )
    )
    comp = big.groupBy("fi").agg(F.min("mention").alias("char_id"))
    links = linking.link_entities(
        toks, kb, prior_weight=LINK_PRIOR_W, min_margin=LINK_MARGIN
    )
    ml = big.join(comp, "fi").join(
        links.select(
            "doc_id",
            (F.col("tok_idx") - 1).alias("tok_idx"),
            "entity_id",
        ),
        ["doc_id", "tok_idx"],
    )
    return linking.canonicalize_links(ml)


def q_linked_scale_characters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document graph-rules unification (``graph_rules_unify``) on
    the same multi-name corpus as q_linked_characters, reporting each
    character's name count and mention count — the alias rules and the
    contradiction pass hash-gated on a non-degenerate input."""
    ments = _linked_mentions(spark, sf_dir)
    unified = unify.graph_rules_unify(ments)
    counted = unified.groupBy("doc_id", "char_id").agg(
        F.size(F.first("names")).cast("long").alias("n_names"),
        F.count(F.lit(1)).cast("long").alias("mention_count"),
    )
    return _long_doc_id(counted)


# Bench-only valence injection over the corpus vocabulary: the driver
# docs contain no English sentiment words, so the DEFAULT lexicon would
# score every sentence 0.0 and the polarity machinery would be gated on
# a degenerate constant. These values exist only to exercise the
# operator (broadcast lexicon join → per-sentence VADER normalization →
# per-pair |p|-argmax → per-edge sum) with non-trivial numbers; real
# corpora use the built-in lexicon (resources/valence.py).
BENCH_LEXICON = [
    ("fast", 1.2), ("slow", -1.4), ("big", 0.9), ("small", -0.6),
    ("merge", 0.4), ("hash", -0.3), ("query", 0.2), ("scan", -0.2),
]
POLARITY_SENT_LEN = 10  # synthetic sentence = 10 tokens (corpus has no punctuation)
_LEX_SQL = ", ".join(f"('{w}', {v})" for w, v in BENCH_LEXICON)


def q_polarity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentiment-weighted character network: per-sentence VADER-style
    polarity (lexicon sum, s/√(s²+α)) feeding cooccurrence_edges'
    polarity branch — pair polarity = max-|p| sentence in the pair's
    sentence span (earliest wins ties), edge polarity = sum over pairs
    (reference graph_extraction.py sentiment path, cooccur.py:236-289).
    Sentences are synthetic fixed-length windows (corpus lacks
    punctuation); the lexicon is the documented injection seam."""
    from renard_spark.operators import sentiment

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    # FULL token table (every sentence needs a polarity row, so no
    # surface filter applies) — checkpointed because four downstream
    # operators reference it and each would re-tokenize the corpus
    toks = tokenize.tokens(docs).withColumn(
        "sent_idx",
        F.floor(F.col("tok_idx") / POLARITY_SENT_LEN).cast("int"),
    ).localCheckpoint(eager=False)
    lex = local_table(spark, BENCH_LEXICON, "word string, valence double")
    # round BEFORE the per-pair |p|-argmax: two sentences with nominally
    # opposite polarities (±x) must tie EXACTLY on |p| in both engines
    # (raw doubles differ in the 1e-17s from summation order, flipping
    # the argmax between Spark and DuckDB)
    pol = sentiment.sentence_polarities(toks, lexicon=lex).withColumn(
        "polarity", F.round("polarity", 6)
    )
    unified = unify.naive_unify(ner.dictionary_ner(toks, CAST_TOKENS))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(
        mentions, COOCCUR_DIST, "tokens", tokens_df=toks, polarities_df=pol
    )
    return _long_doc_id(
        edges.select(
            "doc_id", "src", "dst",
            F.col("weight").cast("long").alias("weight"),
            F.round("polarity", 6).alias("polarity"),
        )
    )


# The corpus has no quote-mark characters, so the token 'line' (not a
# cast token) plays the quote mark: with open==close the QuoteDetector's
# stateful scan pairs consecutive occurrences — expressible in SQL as
# row_number parity (gaps-and-islands). dist=30 gives the conversation
# band join real adjacent-quote pairs at sf0.01.
QUOTE_MARK = "line"
SPEAKER_MAX_GAP = 5
CONV_DIST = 30

# shared oracle CTEs (on top of _BASE_CTES): quote pairing via
# row_number parity + nearest-mention attribution with the >0.5 gate
_SPEAKER_CTES = f"""
, lmarks AS (
  SELECT doc_id, tok_idx,
         row_number() OVER (PARTITION BY doc_id ORDER BY tok_idx) - 1 AS r
  FROM toks WHERE token = '{QUOTE_MARK}'
), quotes AS (
  SELECT a.doc_id, (a.r // 2)::INT AS quote_id,
         a.tok_idx AS qs, b.tok_idx + 1 AS qe
  FROM lmarks a JOIN lmarks b
    ON a.doc_id = b.doc_id AND b.r = a.r + 1
  WHERE a.r % 2 = 0
), spcand AS (
  SELECT q.doc_id, q.quote_id, q.qs, q.qe, m.token AS cand,
         m.tok_idx - q.qe AS gap, 0 AS side
  FROM quotes q JOIN m ON m.doc_id = q.doc_id
    AND m.tok_idx >= q.qe
    AND m.tok_idx < q.qe + {SPEAKER_MAX_GAP}
  UNION ALL
  SELECT q.doc_id, q.quote_id, q.qs, q.qe, m.token AS cand,
         q.qs - (m.tok_idx + 1) AS gap, 1 AS side
  FROM quotes q JOIN m ON m.doc_id = q.doc_id
    AND m.tok_idx + 1 <= q.qs
    AND m.tok_idx + 1 > q.qs - {SPEAKER_MAX_GAP}
), best AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, quote_id
                               ORDER BY side, gap, cand) AS rn
  FROM spcand
), sp AS (
  SELECT doc_id, quote_id, qs, qe, cand AS speaker
  FROM best
  WHERE rn = 1 AND (1.0 - gap / {2.0 * SPEAKER_MAX_GAP}
                    - 0.2 * side) > 0.5
)
"""


def q_speaker_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversational character network: quote detection (alternating
    open/close scan, quote_detection.py:17-71) → rule speaker
    attribution (nearest mention after, then before, score-thresholded
    like the reference's >0.5 gate, speaker_attribution.py:119-124) →
    quote-adjacency conversation edges (graph_extraction.py:567-599)."""
    from renard_spark.operators import conversation as conv
    from renard_spark.operators import quotes as qops

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = _toks_ckpt(
        tokenize.tokens(docs), set(CAST_TOKENS) | {QUOTE_MARK}
    )
    # the Arrow quote-scan feeds the attribution join twice and the
    # attributed quotes self-join in conversation_edges — checkpoint so
    # each Arrow stage runs ONCE, not per plan reference
    qdf = qops.detect_quotes(
        toks, quote_pairs=[(QUOTE_MARK, QUOTE_MARK)]
    ).localCheckpoint(eager=True)
    unified = unify.naive_unify(ner.dictionary_ner(toks, CAST_TOKENS))
    sp = qops.attribute_speakers(
        qdf, unified, max_gap=SPEAKER_MAX_GAP
    ).localCheckpoint(eager=True)
    edges = conv.conversation_edges(sp, dist=CONV_DIST, unit="tokens")
    return _long_doc_id(
        edges.select(
            "doc_id", "src", "dst",
            F.col("weight").cast("long").alias("weight"),
        )
    )


# window of 2 quotes, step 1: the driver docs carry ~2-5 quotes each,
# so larger windows would degenerate to one window per doc
CONV_WIN, CONV_OVERLAP = 2, 1


def q_dynamic_conversation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic conversational networks: windows of CONV_WIN quotes
    (step CONV_WIN−CONV_OVERLAP) over ALL detected quotes (attributed
    or not — the reference windows the quote sequence, then edges use
    attributed ones), one conversation graph per window."""
    from renard_spark.operators import conversation as conv
    from renard_spark.operators import quotes as qops

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = _toks_ckpt(
        tokenize.tokens(docs), set(CAST_TOKENS) | {QUOTE_MARK}
    )
    qdf = qops.detect_quotes(
        toks, quote_pairs=[(QUOTE_MARK, QUOTE_MARK)]
    ).localCheckpoint(eager=True)
    unified = unify.naive_unify(ner.dictionary_ner(toks, CAST_TOKENS))
    sp = qops.attribute_speakers(
        qdf, unified, max_gap=SPEAKER_MAX_GAP
    ).localCheckpoint(eager=True)
    windowed = conv.quote_windows(sp, CONV_WIN, CONV_OVERLAP)
    edges = conv.conversation_edges(
        windowed, dist=CONV_DIST, unit="tokens", group_col="window_id"
    )
    return _long_doc_id(
        edges.select(
            "doc_id", "window_id", "src", "dst",
            F.col("weight").cast("long").alias("weight"),
        )
    )


def q_mention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed speaker→mentioned-character network: characters
    mentioned INSIDE an attributed quote get an edge from the speaker,
    once per quote (reference graph_extraction.py:601-632)."""
    from renard_spark.operators import conversation as conv
    from renard_spark.operators import quotes as qops

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = _toks_ckpt(
        tokenize.tokens(docs), set(CAST_TOKENS) | {QUOTE_MARK}
    )
    qdf = qops.detect_quotes(
        toks, quote_pairs=[(QUOTE_MARK, QUOTE_MARK)]
    ).localCheckpoint(eager=True)
    unified = unify.naive_unify(ner.dictionary_ner(toks, CAST_TOKENS))
    sp = qops.attribute_speakers(
        qdf, unified, max_gap=SPEAKER_MAX_GAP
    ).localCheckpoint(eager=True)
    edges = conv.mention_graph_edges(sp, unified)
    return _long_doc_id(
        edges.select(
            "doc_id", "src", "dst",
            F.col("weight").cast("long").alias("weight"),
        )
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/text.scrub_pii) gated on docs
    deterministically augmented with a URL, an email, an IPv4 and a
    phone number — the synthetic corpus carries no natural PII, so
    both engines append the same spans and the oracle replays the
    same ordered regexp_replace chain."""
    from renard_spark.functions import text as ftext

    docs = _docs_spread(spark, sf_dir).withColumn(
        "text",
        F.concat(
            "text",
            F.lit(" contact user"), F.col("doc_id"),
            F.lit("@mail.example via https://site-"), F.col("doc_id"),
            F.lit(".example/path?q=1 or 10.0."),
            (F.col("doc_id") % 256), F.lit("."),
            ((F.col("doc_id") / 256).cast("long") % 256),
            F.lit(" call +1 555 010 "),
            (F.lit(1000) + F.col("doc_id") % 9000),
        ),
    )
    s = ftext.scrub_pii(docs)
    return s.select(
        "doc_id", F.md5("scrubbed").alias("scrubbed_fp"),
        "n_url", "n_email", "n_ip", "n_phone",
    )


def _sparsify_above_mean(ge, factor: float = 1.0):
    """Keep edges with weight >= factor * global mean weight.

    The aggregated character-network edge table (distinct char pairs —
    orders of magnitude smaller than the corpus) is materialized ONCE
    with localCheckpoint, then the mean is ONE scalar pulled to the
    driver and applied as a literal filter. Neither an empty-
    partitionBy window (single-partition funnel of the edge table) nor
    a broadcast stats join (which would re-execute the whole
    tokenize→NER→unify→co-occurrence lineage a second time for the
    stats subplan — measured 15× on the LPA query)."""
    ge = ge.localCheckpoint(eager=True)
    avg = ge.agg(F.avg("weight")).first()[0]
    if avg is None:
        return ge
    return ge.filter(F.col("weight") >= F.lit(float(avg) * factor))


def q_char_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient on the
    corpus-global character network (functions/graph.py triangles:
    canonical-edge wedge join closed against the edge list)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    # keep above-mean edges: the cast co-occurs everywhere, so the raw
    # graph is complete (clustering ≡ 1, a degenerate gate); the mean
    # threshold is scale-free and SQL-mirrorable as a scalar subquery
    ge = _sparsify_above_mean(ge)
    t = gmetrics.triangles(ge)
    return t.select(
        "node", "degree", "n_triangles",
        F.round("clustering", 6).alias("clustering"),
    )


KCORE_K, KCORE_ROUNDS = 4, 6


def q_char_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal 4-core of the sparsified character network
    (functions/graph.py k_core, iterative peel). Peeling is monotone,
    so the oracle's fixed unrolled rounds reach the same fixpoint the
    Spark loop converges to."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge)
    return gmetrics.k_core(ge, k=KCORE_K)


CORENUM_ROUNDS = 8


def q_char_corenums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL k-core decomposition — core number for every node in one
    operator (functions/graph.py core_number, iterated h-index) on the
    same sparsified character network as char_kcore. Fixed unrolled
    rounds on both engines: the h-index iteration is monotone
    non-increasing from degrees, so once converged the extra rounds
    are no-ops and the fixed-round oracle reaches the same fixpoint
    (convergence within CORENUM_ROUNDS is pytest-asserted against
    networkx.core_number)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge)
    return gmetrics.core_number(ge, iters=CORENUM_ROUNDS)


LPA_ITERS = 5


def q_char_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities on the
    above-mean-sparsified global character network (functions/graph.py
    label_propagation; the oracle unrolls the same rounds)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    # 1.03×mean: sparser than the triangles cut, which on this corpus
    # yields several communities instead of one dense blob
    ge = _sparsify_above_mean(ge, factor=1.03)
    return gmetrics.label_propagation(ge, iters=LPA_ITERS)


LOUVAIN_ITERS = 2


def q_char_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous Louvain-style modularity moves on the same
    sparsified global character network as char_communities
    (functions/graph.louvain_moves): integer-exact gain comparisons
    2m·k_uC − k_u·Σtot'_C, smallest-community tie-break, two rounds —
    the oracle unrolls the identical integer arithmetic."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge, factor=1.03)
    return gmetrics.louvain_moves(ge, iters=LOUVAIN_ITERS)


MAX_SPAN_LEN = 2


def q_span_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-mention span enumeration (reference utils.py spans /
    spans_indexs, incl. the never-the-full-sequence length quirk) as a
    narrow higher-order fold — operators/utils.span_candidates."""
    from renard_spark.operators import utils as oputils

    s = oputils.span_candidates(
        _docs_spread(spark, sf_dir), max_len=MAX_SPAN_LEN
    )
    return s.select(
        "doc_id",
        F.col("start_idx").cast("long").alias("start_idx"),
        F.col("end_idx").cast("long").alias("end_idx"),
        "span_text",
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (top / duplicate 2-gram
    occurrence shares) — the within-doc repetition filters of a
    training-data pipeline (functions/text.repetition_stats)."""
    from renard_spark.functions import text as ftext

    r = ftext.repetition_stats(_docs_spread(spark, sf_dir), n=2)
    return r.select(
        "doc_id", "n_grams",
        F.round("top_gram_frac", 6).alias("top_gram_frac"),
        F.round("dup_gram_frac", 6).alias("dup_gram_frac"),
    )


def q_char_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document degree + strength (weighted degree) of the
    character network — the canonical metrics users compute on the
    reference's nx.Graph outputs, here one union + one aggregation
    over the edge table (functions/graph.py degrees)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    deg = gmetrics.degrees(edges, scope_cols=("doc_id",))
    return _long_doc_id(deg)


PAGERANK_DAMPING, PAGERANK_ITERS = 0.85, 10


def q_char_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the corpus-global character network
    (per-doc co-occurrence edges summed), 10 fixed iterations — the
    iterative DataFrame fixpoint in functions/graph.py; the oracle
    unrolls the same 10 rounds as chained CTEs."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    pr = gmetrics.pagerank(
        ge, damping=PAGERANK_DAMPING, iters=PAGERANK_ITERS
    )
    return pr.select("node", F.round("rank", 6).alias("rank"))


WALKS_R = 2  # walks per node
WALKS_L = 6  # walk length (nodes)


def q_char_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk training corpus over the corpus-global character
    network (functions/graph.random_walks): deterministic md5-choice
    uniform walks, (walk_id, step, node) exploded. The oracle unrolls
    the same L−1 steps as chained CTEs with the identical md5-mod-
    degree pick into the sorted neighbor list."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    return gmetrics.random_walks(
        ge, walks_per_node=WALKS_R, walk_len=WALKS_L
    )


N2V_P = 4.0  # return penalty (1/p = 0.25, exact dyadic)
N2V_Q = 2.0  # in-out penalty (1/q = 0.5, exact dyadic)


def q_char_n2v_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec second-order biased walks over the character network
    (functions/graph.node2vec_walks): step 1 uniform, then 1/p / 1 /
    1/q biased picks via an exact-dyadic cumulative threshold — every
    comparison is an exact binary rational, so the oracle (window
    cumsum over the same sorted neighbor order) reproduces each pick
    bit-for-bit."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    return gmetrics.node2vec_walks(
        ge, walks_per_node=WALKS_R, walk_len=WALKS_L, p=N2V_P, q=N2V_Q
    )


SKIPGRAM_W = 2


def q_char_walk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) training pairs from the char_walks
    corpus (functions/graph.skipgram_pairs) — one walk_id self-join
    banded by |step diff| <= window + one count agg; the embedding-
    training input that completes the DeepWalk chain."""
    from renard_spark.functions import graph as gmetrics

    walks = q_char_walks(spark, sf_dir)
    return gmetrics.skipgram_pairs(walks, window=SKIPGRAM_W)


def q_char_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the PER-DOCUMENT character networks
    (functions/graph.link_prediction_scores, scope=doc_id):
    common-neighbor / Jaccard / Adamic-Adar scores for every
    distance-2 non-adjacent pair — the missing-edge candidates of the
    knowledge graph, from one wedge equi-join (never all-pairs). The
    corpus-global cast network is complete, so the per-doc networks
    (which are sparse) are where candidates exist."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    lp = gmetrics.link_prediction_scores(edges, scope_cols=("doc_id",))
    return _long_doc_id(lp).select(
        "doc_id", "u", "v", "common_neighbors",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("adamic_adar", 6).alias("adamic_adar"),
    )


HITS_ITERS = 8


def q_char_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted HITS hub/authority scores over the corpus-global
    character network — same edge table as char_pagerank, 8 fixed
    iterations with per-round L1 normalization; the oracle unrolls the
    same rounds as chained CTEs (functions/graph.py hits)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    hs = gmetrics.hits(ge, iters=HITS_ITERS)
    return hs.select(
        "node", F.round("hub", 6).alias("hub"),
        F.round("auth", 6).alias("auth"),
    )


SEMDEDUP_THRESHOLD = 0.35


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop decision (functions/similarity.semantic_dedup):
    md5-sampled codebook cells, within-cell cosine >= threshold, keep
    the smallest id per near-duplicate relation."""
    from renard_spark.functions import similarity

    emb = _embeddings(spark, sf_dir)
    return similarity.semantic_dedup(
        emb, threshold=SEMDEDUP_THRESHOLD, n_centroids=IVF_CENTROIDS
    )


MEDIA_KINDS = ["audio", "video", "image"]


def _interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic interleaved text+media corpus in the exact
    BASELINE.json input_hint shape — (doc_id, spans:array<struct<
    kind,text,media_ref,offset>>) — synthesized from the driver's flat
    documents table: the text split at its midpoint into two text
    spans, an image span between the halves, and a doc_id-keyed
    trailing media span whose kind cycles audio/video/image."""
    docs = _docs_spread(spark, sf_dir)
    mid = "CAST(length(text) / 2 AS INT)"
    kv = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_KINDS]),
        ((F.col("doc_id") % 3) + 1).cast("int"),
    )
    null_s = F.lit(None).cast("string")
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.expr(f"substring(text, 1, {mid})").alias("text"),
            null_s.alias("media_ref"),
            F.lit(0).alias("offset"),
        ),
        F.struct(
            F.lit("image").alias("kind"),
            null_s.alias("text"),
            F.concat(F.lit("img://"), F.col("doc_id"), F.lit("/0")).alias(
                "media_ref"
            ),
            F.expr(mid).alias("offset"),
        ),
        F.struct(
            F.lit("text").alias("kind"),
            F.expr(f"substring(text, {mid} + 1)").alias("text"),
            null_s.alias("media_ref"),
            F.expr(mid).alias("offset"),
        ),
        F.struct(
            kv.alias("kind"),
            null_s.alias("text"),
            F.concat(kv, F.lit("://"), F.col("doc_id"), F.lit("/1")).alias(
                "media_ref"
            ),
            F.length("text").cast("int").alias("offset"),
        ),
    )
    return docs.select("doc_id", spans.alias("spans"))


def q_span_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row lineage over the interleaved input shape: the md5
    fingerprint reproduces the exact (kind, text, media_ref, order)
    span sequence — BASELINE.json's per-row invariant — and DuckDB
    recomputes the same digest from the flat table. Narrow plan: one
    scan, no shuffle (sources/ingest.py span_lineage)."""
    inter = ingest.normalize_documents(_interleaved(spark, sf_dir))
    lin = ingest.span_lineage(inter, stage="ingest")
    return lin.select(
        "doc_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        "span_fingerprint",
    )


def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media spans carried through ingest untouched: explode the
    non-text spans (sources/ingest.py media_spans) and aggregate per
    kind — counts, distinct docs/refs, and the offset sum prove kind,
    media_ref, and offset all survive normalization exactly."""
    med = ingest.media_spans(
        ingest.normalize_documents(_interleaved(spark, sf_dir))
    )
    return med.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("media_ref").alias("n_refs"),
        F.sum("offset").alias("sum_offset"),
    )


def q_media_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media grounding over the interleaved corpus
    (operators/linking.py link_media_to_mentions): each media span
    links to the nearest character mention by char offset (ties → the
    preceding mention) — the KG edge set that associates interleaved
    media with entities. AS-OF union+window shape: one doc_id shuffle,
    never a media×mention join. Mentions come from the Arrow offset
    tokenizer (tokenize.tokens_with_offsets), the documented
    char-addressed path."""
    from renard_spark.operators import linking

    inter = _interleaved(spark, sf_dir)
    med = ingest.media_spans(inter).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "media_ref",
        "kind",
        "offset",
    )
    docs = ingest.normalize_documents(inter).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    ment = (
        tokenize.tokens_with_offsets(docs)
        .filter(F.col("token").isin(list(CAST_TOKENS)))
        .select("doc_id", "char_start", F.col("token").alias("character"))
    )
    out = linking.link_media_to_mentions(med, ment)
    return _long_doc_id(
        out.select(
            "doc_id",
            "media_ref",
            "kind",
            "character",
            F.col("dist").cast("long").alias("dist"),
        )
    )


BM25_QUERIES = [(0, "spark"), (0, "window"), (1, "customer"), (1, "merge")]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from renard_spark.functions import retrieval

    idx = retrieval.bm25_index(_docs_spread(spark, sf_dir))
    q = local_table(spark, BM25_QUERIES, "query_id int, term string")
    t = retrieval.bm25_topk(idx, q, k=5)
    return t.select(
        "query_id", "doc_id", F.round("score", 6).alias("score"), "rank"
    )


KATZ_ITERS = 8


def q_char_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality on the corpus-global character network, 8 fixed
    rounds with the data-adaptive alpha = 0.5/d_max (functions/graph.py
    katz_centrality); the oracle computes the same d_max scalar and
    unrolls the same rounds as chained CTEs."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    kz = gmetrics.katz_centrality(ge, iters=KATZ_ITERS)
    return kz.select("node", F.round("katz", 6).alias("katz"))


KTRUSS_K, KTRUSS_ROUNDS = 4, 4


def q_char_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the avg-sparsified character network — the edges
    supported by >= 2 triangles after peeling (functions/graph.py
    k_truss, fixed rounds; peeling is monotone, so the oracle's
    unrolled rounds land on the same edge set)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge)
    return gmetrics.k_truss(ge, k=KTRUSS_K, rounds=KTRUSS_ROUNDS)


def q_char_quotient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-quotient (supernode) graph: LPA labels contracted
    onto the sparsified character network — summed inter/intra
    community weight + edge counts (functions/graph.py quotient_graph
    over label_propagation; the oracle reuses the unrolled LPA rounds
    and contracts with the same two joins)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge, factor=1.03)
    labels = gmetrics.label_propagation(ge, iters=LPA_ITERS)
    q = gmetrics.quotient_graph(ge, labels)
    return q.select(
        "c1", "c2", F.round("weight", 6).alias("weight"), "n_edges"
    )


# tiny from-scratch ontology over the cast vocabulary: direct classes
# for every cast token + a multi-parent subclass DAG (relational_op is
# both an operator and an artifact), exercising DAG-shaped closure
ONTOLOGY_TYPES = {
    "spark": "compute_engine", "stream": "compute_engine",
    "batch": "compute_engine",
    "join": "relational_op", "merge": "relational_op",
    "filter": "relational_op", "window": "relational_op",
    "vector": "data_structure", "table": "data_structure",
    "customer": "actor",
}
SUBCLASS_EDGES = [
    ("compute_engine", "system_component"),
    ("relational_op", "operator"),
    ("operator", "system_component"),
    ("relational_op", "artifact"),
    ("data_structure", "artifact"),
    ("artifact", "thing"),
    ("system_component", "thing"),
    ("actor", "agent"),
    ("agent", "thing"),
]
TYPE_CLOSURE_ROUNDS = 3  # doubling: covers subclass chains of depth 8


def q_type_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology reasoning (rdfs:subClassOf* inference): every corpus
    entity typed with its direct class AND all inferred supertypes,
    via the doubling transitive closure of the subclass DAG
    (functions/graph.py transitive_closure) joined onto the entity
    table — (entity, type) distinct. The oracle unrolls the same
    doubling rounds over the literal hierarchy."""
    from renard_spark.functions import graph as gmetrics

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs)
    ents = (
        toks.filter(F.col("token").isin(list(CAST_TOKENS)))
        .select(F.col("token").alias("entity"))
        .distinct()
    )
    tmap = F.create_map(
        *[F.lit(x) for kv in ONTOLOGY_TYPES.items() for x in kv]
    )
    typed = ents.select("entity", tmap[F.col("entity")].alias("cls"))
    hier = local_table(spark, SUBCLASS_EDGES, "sub string, sup string")
    closure = gmetrics.transitive_closure(
        hier, src="sub", dst="sup", max_rounds=TYPE_CLOSURE_ROUNDS
    )
    direct = typed.select("entity", F.col("cls").alias("type"))
    supers = typed.join(closure, typed["cls"] == closure["sub"]).select(
        "entity", F.col("sup").alias("type")
    )
    return direct.unionByName(supers).distinct()


SCC_ROUNDS = 4  # doubling: covers directed paths of length 16


def q_rel_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the corpus-level DIRECTED
    relation graph (subj -> obj over the full relation-extraction
    chain): mutual-reachability grouping via the doubling transitive
    closure (functions/graph.py strongly_connected) — the cycle
    detector KG canonicalization runs before collapsing equivalent
    entities. Oracle: the same doubling rounds unrolled."""
    from renard_spark.functions import graph as gmetrics
    from renard_spark.operators import relations

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs).filter(
        F.col("token").isin(list(CAST_TOKENS))
        | F.lower(F.col("token")).isin(sorted(REL_VERBS))
    ).localCheckpoint(eager=False)
    unified = unify.naive_unify(
        ner.dictionary_ner(toks, CAST_TOKENS)
    ).localCheckpoint(eager=False)
    raw = relations.pattern_relations(unified, toks, verbs=REL_VERBS)
    # resolve only needs (doc_id, char_id, names): the unified stage
    # table feeds name_to_char directly (multiplicity-insensitive),
    # skipping characters_table's unused aggregations + left join
    resolved = relations.resolve_triples(raw, unified)
    edges = relations.relational_edges(
        resolved, min_rel_occurrences=REL_MIN_OCC
    )
    g = edges.select(
        F.col("subj_char").alias("src"), F.col("obj_char").alias("dst")
    ).distinct()
    return gmetrics.strongly_connected(g, max_rounds=SCC_ROUNDS)


BGP_PATTERNS = [("?a", "scans", "?b"), ("?b", "?r", "?c")]


def q_bgp_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style basic-graph-pattern query compiled to DataFrame
    joins (functions/kgquery.bgp_match): ?a -scans-> ?b -?r-> ?c over
    the corpus-level relation triples — constant predicate pushed into
    the first scan, shared-variable equi-join, variable predicate
    bound from the second scan. Oracle: the same conjunctive query as
    plain SQL joins."""
    from renard_spark.functions.kgquery import bgp_match

    # _relation_triples lazily checkpoints: the triple table feeds one
    # scan PER PATTERN, the relation chain must execute once
    return bgp_match(_relation_triples(spark, sf_dir), BGP_PATTERNS)


def _relation_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level distinct (subj, pred, obj) relation triples — the
    shared head of the bgp / rdfs / optional queries (lazily
    checkpointed: every consumer scans it more than once)."""
    from renard_spark.operators import relations

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs).filter(
        F.col("token").isin(list(CAST_TOKENS))
        | F.lower(F.col("token")).isin(sorted(REL_VERBS))
    ).localCheckpoint(eager=False)
    unified = unify.naive_unify(
        ner.dictionary_ner(toks, CAST_TOKENS)
    ).localCheckpoint(eager=False)
    raw = relations.pattern_relations(unified, toks, verbs=REL_VERBS)
    # resolve only needs (doc_id, char_id, names): the unified stage
    # table feeds name_to_char directly (multiplicity-insensitive),
    # skipping characters_table's unused aggregations + left join
    resolved = relations.resolve_triples(raw, unified)
    edges = relations.relational_edges(
        resolved, min_rel_occurrences=REL_MIN_OCC
    )
    gt = edges.select(
        F.col("subj_char").alias("subj"),
        F.col("rel").alias("pred"),
        F.col("obj_char").alias("obj"),
    ).distinct()
    return gt.localCheckpoint(eager=False)


# literal ontology over the relation predicates: property chain of
# depth 2, domain/range at two levels, class chain of depth 2 — deep
# enough that every rdfs stratum (and the doubling closure) does work
RDFS_SCHEMA = [
    ("scans", "subPropertyOf", "reads"),
    ("reads", "subPropertyOf", "interacts_with"),
    ("sorts", "subPropertyOf", "interacts_with"),
    ("groups", "subPropertyOf", "interacts_with"),
    ("scans", "domain", "reader"),
    ("interacts_with", "domain", "participant"),
    ("interacts_with", "range", "participant"),
    ("reader", "subClassOf", "participant"),
    ("participant", "subClassOf", "thing"),
]
RDFS_ROUNDS = 2  # doubling: covers hierarchy chains of depth 4


def q_rdfs_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS entailment (functions/ontology.rdfs_closure, the rhoDF
    fragment of Munoz et al. ESWC'07): the corpus relation triples
    closed under a literal schema — subPropertyOf roll-up, domain/
    range typing, subClassOf supertype inheritance — evaluated as four
    STRATA of broadcast joins (no instance-data iteration). Oracle:
    the same strata with the hierarchy closures unrolled."""
    from renard_spark.functions.ontology import rdfs_closure

    facts = _relation_triples(spark, sf_dir)
    schema = local_table(
        spark, RDFS_SCHEMA, "subj string, pred string, obj string"
    )
    return rdfs_closure(facts, schema, max_rounds=RDFS_ROUNDS)


BGP_OPT_REQUIRED = [("?a", "scans", "?b")]
BGP_OPT_OPTIONAL = [[("?b", "?r", "?c")]]
# the synthetic relation graph is near-complete (every cast pair in
# every relation), so a purely structural OPTIONAL never misses; one
# injected sink triple (same trick as q_contamination's benchmark
# slice) guarantees the gate hash-checks a NULL-extended row too
BGP_OPT_EXTRA = ("omega_probe", "scans", "nadir_sink")


def q_bgp_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL compiled to a LEFT equi-join (functions/
    kgquery.bgp_match optionals=): ?a -scans-> ?b OPTIONAL { ?b -?r->
    ?c } — scan targets keep their row with NULL (r, c) when nothing
    hangs off them, exactly SPARQL's left-join semantics (the injected
    sink row exercises exactly that path). Oracle: the same query as a
    SQL LEFT JOIN."""
    from renard_spark.functions.kgquery import bgp_match

    gt = _relation_triples(spark, sf_dir)
    extra = local_table(
        spark, [BGP_OPT_EXTRA], "subj string, pred string, obj string"
    )
    return bgp_match(
        gt.unionByName(extra), BGP_OPT_REQUIRED, optionals=BGP_OPT_OPTIONAL
    )


def q_char_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path RECONSTRUCTION from the lexicographically-first
    character (functions/graph.bfs_paths): per node the distance AND
    the lex-min shortest path itself — the KG-explanation query ("how
    are these entities connected"). min(struct(distance, path)) keeps
    the relaxation monotone and the winner unique cross-engine; the
    oracle unrolls the same rounds with DuckDB's struct min. Path
    emitted '->'-joined (the gate hash covers the full sequence)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge)
    source = ge.agg(F.min(F.least("src", "dst"))).first()[0]
    out = gmetrics.bfs_paths(ge, source, iters=BFS_ROUNDS)
    return out.select(
        "node", "distance", F.array_join("path", "->").alias("path")
    )


TR_WINDOW, TR_DAMPING, TR_ITERS = 3, 0.85, 5


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TextRank keyword scores (functions/text.
    textrank_scores, Mihalcea & Tarau 2004): PageRank over each doc's
    token co-occurrence graph in ONE bulk-synchronous job — doc_id
    rides every key, so 10^9 per-document graphs rank simultaneously
    with no driver loop (the wl_refinement scope pattern). Oracle:
    the same fixed rounds unrolled with doc_id carried through every
    CTE."""
    from renard_spark.functions.text import textrank_scores

    docs = _docs_spread(spark, sf_dir)
    return textrank_scores(
        docs, window=TR_WINDOW, damping=TR_DAMPING, iters=TR_ITERS
    )


KG_CONSTRUCT_TEMPLATES = [
    ("?a", "co_scans", "?c"),
    ("?b", "scanned_by", "?a"),
]


def q_kg_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT (functions/kgquery.construct): derived triples
    materialized from the bgp_optional bindings — ?a-co_scans->?c
    skips the NULL-extended OPTIONAL rows (SPARQL drops incomplete
    instantiations) while ?b-scanned_by->?a keeps them; the output is
    itself a (subj, pred, obj) table ready to upsert back into the KG.
    Oracle: the LEFT-JOIN bindings re-projected per template with the
    same NULL guards."""
    from renard_spark.functions.kgquery import bgp_match, construct

    gt = _relation_triples(spark, sf_dir)
    extra = local_table(
        spark, [BGP_OPT_EXTRA], "subj string, pred string, obj string"
    )
    bindings = bgp_match(
        gt.unionByName(extra), BGP_OPT_REQUIRED, optionals=BGP_OPT_OPTIONAL
    )
    return construct(bindings, KG_CONSTRUCT_TEMPLATES)


MIS_ROUNDS = 5
MIS_SEED = "mis"


def q_char_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby's maximal independent set on the sparsified character
    network (functions/graph.maximal_independent_set): deterministic
    md5 round priorities make the parallel algorithm's every round —
    winners, eliminations, convergence — reproducible cross-engine,
    so the oracle unrolls the SAME rounds in SQL. MIS is the
    conflict-free parallel-update scheduling primitive for KG
    maintenance."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge)
    return gmetrics.maximal_independent_set(
        ge, max_rounds=MIS_ROUNDS, seed=MIS_SEED
    )


SNB_WINDOW, SNB_KEYPREFIX = 4, 24


def q_sorted_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking (functions/dedup.
    sorted_neighborhood, Hernandez & Stolfo SIGMOD'95): normalized-
    key global order via the two-phase rank, width-4 sliding window
    pairs by delta-explode equi-join — the near-sorted-dirty-data
    complement to the token/LSH/fingerprint blockers. Oracle: SQL
    row_number order + rank-distance join."""
    from renard_spark.functions.dedup import sorted_neighborhood

    docs = _docs_spread(spark, sf_dir)
    return sorted_neighborhood(
        docs, window=SNB_WINDOW, key_prefix=SNB_KEYPREFIX
    )


BGP_PATH_PATTERNS = [("?x", "scans+", "?y"), ("?y", "groups", "?z")]
BGP_PATH_ROUNDS = 3  # doubling: covers scans-paths of length 8


def q_bgp_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 property path (functions/kgquery.bgp_match `p+`
    support): ?x -scans+-> ?y -groups-> ?z — the one-or-more pattern
    scans the doubling transitive closure of the scans slice, then
    composes with a plain pattern on the shared variable. Oracle: the
    same closure rounds unrolled + one join."""
    from renard_spark.functions.kgquery import bgp_match

    gt = _relation_triples(spark, sf_dir)
    return bgp_match(
        gt, BGP_PATH_PATTERNS, closure_rounds=BGP_PATH_ROUNDS
    )


OWL_ROUNDS = 5  # doubling: covers transitive chains of length 32
OWL_ALIAS, OWL_ALIAS2 = "omega_alias", "omega_alias_two"


def q_owl_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL-lite entailment + owl:sameAs canonicalization (functions/
    ontology.owl_closure, the W3C OWL 2 RL property fragment): the
    corpus KG closed under inverseOf(scans, scanned_by),
    groups:Symmetric and sorts:Transitive, with two injected alias
    entities merged into a real character through a sameAs chain —
    the rewrite happens BEFORE closure, so the alias's sorts fact
    chains into the transitive stratum. Oracle: the same four strata
    with the sameAs components and the doubling closure unrolled."""
    from renard_spark.functions.ontology import (
        INVERSE_OF, SAME_AS, SYMMETRIC, TRANSITIVE, TYPE, owl_closure,
    )

    gt = _relation_triples(spark, sf_dir)
    row = gt.agg(
        F.min(F.when(F.col("pred") == "scans", F.col("subj"))).alias("x"),
        F.min(F.when(F.col("pred") == "sorts", F.col("obj"))).alias("y"),
    ).first()
    schema = local_table(
        spark, [
            ("scans", INVERSE_OF, "scanned_by"),
            ("groups", TYPE, SYMMETRIC),
            ("sorts", TYPE, TRANSITIVE),
        ],
        "subj string, pred string, obj string",
    )
    extra = local_table(
        spark, [
            (OWL_ALIAS, SAME_AS, row["x"]),
            (OWL_ALIAS2, SAME_AS, OWL_ALIAS),
            (OWL_ALIAS2, "sorts", row["y"]),
        ],
        "subj string, pred string, obj string",
    )
    return owl_closure(
        gt.unionByName(extra), schema, max_rounds=OWL_ROUNDS
    )


BGP_UNION_GROUPS = [
    [("?a", "scans", "?b")],
    [("?a", "groups", "?b"), ("?b", "sorts", "?c")],
]


def q_kg_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION (functions/kgquery.bgp_union): { ?a scans ?b }
    UNION { ?a groups ?b . ?b sorts ?c } — the first branch does not
    bind ?c, so its rows come back NULL-padded per SPARQL's unbound-
    variable semantics; distinct set union across branches. Oracle:
    two SQL SELECTs with an explicit NULL pad, UNION, DISTINCT."""
    from renard_spark.functions.kgquery import bgp_union

    return bgp_union(_relation_triples(spark, sf_dir), BGP_UNION_GROUPS)


BGP_MINUS_REQUIRED = [("?a", "scans", "?b")]
BGP_MINUS_GROUPS = [[("?b", "groups", "?c")]]


def q_kg_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS (functions/kgquery.bgp_match minus=): ?a scans ?b
    MINUS { ?b groups ?c } — drops every solution whose ?b has any
    outgoing groups edge (left-anti join on the shared variable). The
    injected sink triple guarantees >= 1 surviving row on the near-
    complete synthetic graph. Oracle: NOT EXISTS."""
    from renard_spark.functions.kgquery import bgp_match

    gt = _relation_triples(spark, sf_dir)
    extra = local_table(
        spark, [BGP_OPT_EXTRA], "subj string, pred string, obj string"
    )
    return bgp_match(
        gt.unionByName(extra), BGP_MINUS_REQUIRED, minus=BGP_MINUS_GROUPS
    )


ANF_HOPS, ANF_P = 3, 4


def q_char_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighborhood function (functions/graph.
    neighborhood_function — HyperANF register propagation,
    Boldi/Rosa/Vigna WWW'11) on the sparsified character network:
    per (node, hop) the HLL-estimated ball size for hop 0..3. The
    deterministic md5 registers make the sketch bit-identical across
    engines, and max-merge associativity means hop-h registers equal
    the registers computed directly over the h-ball — the oracle
    unrolls the BFS balls and computes the registers directly,
    checking the propagation algebra itself."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge)
    return gmetrics.neighborhood_function(ge, hops=ANF_HOPS, p=ANF_P)


JP_ROUNDS = 12
JP_SEED = "jp"


def q_char_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jones-Plassmann greedy coloring (functions/graph.
    greedy_coloring) of the sparsified character network: no two
    adjacent characters share a color, priorities are fixed
    deterministic md5(seed:node)||node strings, each winner takes the
    smallest color absent from its colored neighborhood. Color
    classes are the conflict-free parallel-update batches for KG
    maintenance. Oracle: the same rounds unrolled (rounds past
    convergence are no-ops in both engines)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge)
    return gmetrics.greedy_coloring(ge, max_rounds=JP_ROUNDS, seed=JP_SEED)


def q_char_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance (functions/graph.conductance,
    Kannan/Vempala/Vetta JACM'04) of the char_communities LPA
    partition on the same 1.03×-mean-sparsified weighted network:
    cut / min(vol, total−vol) per community — the partition-quality
    gate that decides whether communities are safe units for
    per-community downstream jobs. Oracle: the unrolled LPA rounds +
    one aggregation pass."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge, factor=1.03)
    labels = gmetrics.label_propagation(ge, iters=LPA_ITERS)
    return gmetrics.conductance(ge, labels)


def q_fs_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (functions/dedup.
    fellegi_sunter, Fellegi & Sunter JASA 1969) over the sorted-
    neighborhood candidate pairs: per pair an exact-integer agreement
    vector (fingerprint equality, log2 length band, integer-compared
    Jaccard >= 0.5) and the summed log-likelihood match weight with
    the per-field log constants folded driver-side. Oracle: the same
    window pairs + feature joins with the weights inlined."""
    from renard_spark.functions.dedup import fellegi_sunter

    return fellegi_sunter(
        _docs_spread(spark, sf_dir),
        window=SNB_WINDOW,
        key_prefix=SNB_KEYPREFIX,
    )


ZORDER_BITS = 16
ZORDER_DIM = 1 << ZORDER_BITS


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order / Morton clustering keys (functions/maintenance.
    zorder_key, the Iceberg/Delta OPTIMIZE ZORDER BY layout
    technique) over two event dimensions: sorting by zkey co-locates
    rows close in BOTH dimensions so min/max file stats prune scans
    filtered on either. Pure generated integer arithmetic, shared
    with the oracle via zorder_key_sql — one code path, two
    engines."""
    from renard_spark.functions.maintenance import zorder_key

    ev = _events(spark, sf_dir).select(
        "event_id",
        (F.col("event_id") % ZORDER_DIM).alias("x"),
        (F.col("user_id") % ZORDER_DIM).alias("y"),
    )
    return zorder_key(ev, "x", "y", bits=ZORDER_BITS)


def q_nt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF interchange ROUNDTRIP: the corpus KG serialized to
    N-Triples lines (io/ntriples.triples_to_ntriples) and read back by
    the parser (parse_ntriples + the rdfs:label bnode index join in
    ntriples_to_triples) — the gate is that export→import reproduces
    the name-level fact table the oracle computes directly, i.e. the
    escape/unescape and bnode-labeling logic are exact inverses."""
    from renard_spark.io.ntriples import ntriples_to_triples, triples_to_ntriples

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    # truncate the fact table before serialization: the roundtrip
    # references its input three times (fact lines + the label index's
    # two sides), and the parser's own lazy checkpoint would otherwise
    # compile the whole extraction prefix into a nested execution —
    # measured erratically slow (8s+) in long bench sessions
    facts = triples.edges_to_triples(edges).localCheckpoint(eager=True)
    lines = triples_to_ntriples(facts)
    return ntriples_to_triples(lines).distinct()


def q_char_ecc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node eccentricity (max hop distance within the node's
    reachable component) on the sparsified character network —
    min/max over the table are the graph's radius/diameter
    (functions/graph.eccentricity, same exact multi-source BFS as
    char_harmonic; the oracle reuses the unrolled BFS rounds with a
    max reduction)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge)
    return gmetrics.eccentricity(ge, iters=BFS_ROUNDS)


DSIR_BUCKETS = 64


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights for data selection (functions/sampling.
    dsir_weights): hashed-bigram log-likelihood ratio of the
    English-classified target slice vs the raw corpus — the
    importance-resampling scores a targeted pretraining-data pipeline
    feeds into weighted sampling. Target membership chains the
    language_id operator, so the gate covers langid → DSIR end to
    end."""
    from renard_spark.functions import text as ftext
    from renard_spark.functions.sampling import dsir_weights

    docs = _docs_spread(spark, sf_dir)
    lang = ftext.language_id(docs).select(
        "doc_id", (F.col("lang_pred") == "en").alias("is_target")
    )
    d = docs.join(lang, "doc_id")
    out = dsir_weights(d, n_buckets=DSIR_BUCKETS)
    return out.select(
        "doc_id", "n_feats",
        F.round("dsir_logweight", 6).alias("dsir_logweight"),
    )


def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation (pairs completeness + reduction
    ratio, the standard ER metrics): the MinHash-LSH candidate set
    scored against the normalized-fingerprint exact-duplicate ground
    truth — ONE summary row; the tuning loop for band/row counts runs
    this per config (functions/dedup.blocking_quality)."""
    from renard_spark.functions import dedup

    return dedup.blocking_quality(
        _documents(spark, sf_dir), w=3, num_hashes=8, bands=4
    )


MST_ROUNDS = 4  # Borůvka halves components per round: covers 16+


def q_char_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum spanning forest (strongest-tie backbone) of the
    corpus-global character network — Borůvka rounds, each one
    label-join + one min-of-struct pick per endpoint side, component
    graph collapsed by the hash-to-min CC loop (functions/graph.
    spanning_forest, deterministic (weight, src, dst) tie-break so the
    forest is unique across engines; the oracle unrolls the same
    rounds with a doubling-closure merge)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(
        F.sum("weight").cast("long").alias("weight")
    )
    return gmetrics.spanning_forest(ge, mode="max", max_rounds=MST_ROUNDS)


WL_ITERS = 3


def q_char_wl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler-Lehman color refinement on the corpus-global
    character network (functions/graph.wl_refinement): after 3 rounds
    two characters share a color iff their depth-3 neighborhood trees
    are identical — the structural-role signature / ER blocking key.
    All hex-string md5 math, so the oracle unrolls the same rounds
    with string_agg ORDER BY."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    return gmetrics.wl_refinement(ge, iters=WL_ITERS)


def q_graph_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document WL graph hash (functions/graph.wl_graph_hash):
    md5 of the sorted final color multiset per document's character
    network — equal hashes ⇔ 1-WL-indistinguishable graphs, i.e.
    narrative-STRUCTURE dedup independent of character names. One job
    refines every per-doc graph in the same bulk-synchronous passes
    (scope_cols carries doc_id through the keys — no driver loop)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    out = gmetrics.wl_graph_hash(
        edges, iters=WL_ITERS, scope_cols=("doc_id",)
    )
    return _long_doc_id(out)


def q_char_curvature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented Forman-Ricci curvature per character-network edge
    (functions/graph.forman_curvature): 4 − deg(u) − deg(v) + 3·T(e),
    all integer arithmetic — deeply negative on hub-to-hub bridges,
    positive inside dense communities; the cheap backbone-vs-bridge
    edge classifier for the KG."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    return gmetrics.forman_curvature(ge)


def q_char_richclub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficients of the character network
    (functions/graph.rich_club, Colizza et al. 2006): per degree
    threshold k the density among nodes with degree > k — one pass,
    suffix sums over two distinct-degree-sized histograms (no per-k
    scans, no data-sized windows)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    # the avg-sparsified graph has a real degree spread (the full
    # gate-corpus graph is near-regular -> a single-row table)
    ge = _sparsify_above_mean(ge)
    rc = gmetrics.rich_club(ge)
    return rc.select(
        "k", "n_nodes", "n_edges", F.round("phi", 6).alias("phi")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_triples(spark, "/root/testdata/sf0.001")


BFS_ROUNDS = 8


def q_char_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distances from the lexicographically-smallest character on
    the sparsified network (functions/graph.py bfs_distances — per
    round one equi-join + one min-agg). Fixed unrolled rounds both
    engines; distances are monotone non-increasing once reached, so
    rounds past the (small) diameter are no-ops."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge)
    source = ge.agg(F.min(F.least("src", "dst"))).first()[0]
    return gmetrics.bfs_distances(ge, source, iters=BFS_ROUNDS)


def q_char_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPMI re-weighting of the corpus-global co-occurrence network
    (functions/graph.py pmi_edges): separates genuinely-associated
    pairs from both-are-frequent hub pairs. Non-iterative — one
    strength aggregation joined back + a 1-row total."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    out = gmetrics.pmi_edges(ge)
    return out.select(
        "src", "dst", F.col("weight").cast("long").alias("weight"),
        F.round("pmi", 6).alias("pmi"),
    )


def q_span_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-PARALLEL tokenization behind the hash gate (the
    long-document-skew path, tokenize.span_tokens): the flat bench text
    is cut into 50-word spans (whitespace boundaries are token-inert),
    each span tokenizes independently, and the document-global tok_idx
    is restored by the per-doc span cumsum — the oracle is the plain
    whole-text tokenization, so the gate proves the span path's global
    indexing is EXACTLY equivalent."""
    docs = _docs_spread(spark, sf_dir)
    words = F.split("text", " ")
    n_chunks = F.greatest(
        F.ceil(F.size(words) / F.lit(50)).cast("int"), F.lit(1)
    )
    spans = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.lit("text").alias("kind"),
            F.array_join(
                F.slice(words, i * 50 + 1, 50), " "
            ).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        ),
    )
    sdf = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        spans.alias("spans"),
    )
    out = tokenize.span_tokens(sdf)
    return _long_doc_id(
        out.select(
            "doc_id",
            F.col("tok_idx").cast("long").alias("tok_idx"),
            "token",
        )
    )


PACK_LEN = 512


def q_pack_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing assignments (functions/text.pack_assignments):
    the deterministic concatenate-and-chunk stream over hash order,
    global positions from the two-phase running total (the same
    scalable-cumsum machinery as make_vocab, gated here on real
    arithmetic rather than ranks)."""
    from renard_spark.functions import text as ftext

    out = ftext.pack_assignments(
        _docs_spread(spark, sf_dir), context_len=PACK_LEN
    )
    return out


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate line removal behind the gate
    (functions/text.remove_boilerplate): every doc gets a shared
    footer line appended (and even docs a second one), the frequency
    filter strips exactly those, and clean_text must hash back to the
    ORIGINAL text — an end-to-end reassembly check, not just counts."""
    from renard_spark.functions import text as ftext

    docs = _docs_spread(spark, sf_dir).withColumn(
        "text",
        F.concat(
            "text",
            F.lit("\nshared footer alpha beta"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("\neven docs footer")
            ).otherwise(F.lit("")),
        ),
    )
    out = ftext.remove_boilerplate(docs, min_docs=2)
    return _long_doc_id(
        out.select(
            "doc_id", F.md5("clean_text").alias("clean_fp"),
            "n_kept", "n_removed",
        )
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide keep-first exact paragraph dedup
    (functions/dedup.paragraph_dedup): same injected shared footers as
    the boilerplate gate, but C4/RefinedWeb semantics — the FIRST
    occurrence (min (doc_id, position)) of each duplicated line
    survives, later copies are dropped. The winner is a map-side
    combinable min-struct aggregation, not a hot-key window; the gate
    hashes the reassembled text end-to-end."""
    from renard_spark.functions.dedup import paragraph_dedup

    docs = _docs_spread(spark, sf_dir).withColumn(
        "text",
        F.concat(
            "text",
            F.lit("\nshared footer alpha beta"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("\neven docs footer")
            ).otherwise(F.lit("")),
        ),
    )
    out = paragraph_dedup(docs)
    return _long_doc_id(
        out.select(
            "doc_id", F.md5("clean_text").alias("clean_fp"),
            "n_kept", "n_dropped",
        )
    )


def q_mixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture table (functions/text.mixture_stats): doc and
    token counts with corpus shares — what a training run samples its
    mixture weights from."""
    from renard_spark.functions import text as ftext

    out = ftext.mixture_stats(_docs_spread(spark, sf_dir))
    return out.select(
        "grp", "n_docs", "n_tokens",
        F.round("doc_share", 6).alias("doc_share"),
        F.round("token_share", 6).alias("token_share"),
    )


def q_length_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile length-band quality filter (functions/text.
    length_band): keep docs inside the corpus's [p05, p95] n_chars
    band; both engines compute the same interpolated percentiles."""
    from renard_spark.functions import text as ftext

    out = ftext.length_band(_documents(spark, sf_dir))
    return out.select("doc_id", "n_chars")


WDIST_ROUNDS = 8


def q_char_wdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest-path costs (cost = 1/weight — strong ties are short)
    from the smallest character on the sparsified network
    (functions/graph.py weighted_distances, min-plus rounds unrolled
    in the oracle like char_bfs)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge).withColumn(
        "cost", F.lit(1.0) / F.col("weight")
    )
    source = ge.agg(F.min(F.least("src", "dst"))).first()[0]
    out = gmetrics.weighted_distances(
        ge, source, iters=WDIST_ROUNDS
    )
    return out.select("node", F.round("distance", 6).alias("distance"))


NGRAM_W = 5  # 5-gram decontamination at test scale (prod: 13)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-slice contamination (functions/contamination.
    cross_source_overlap): every doc_id % 10 == 0 document is injected
    into a synthetic 'benchmark' slice verbatim, so each real source
    must report exactly its multiple-of-10 docs as shared with the
    benchmark (plus any natural cross-source text collisions — both
    engines see the same)."""
    from renard_spark.functions import contamination

    docs = _documents(spark, sf_dir)
    injected = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "source", F.lit("benchmark")
    )
    both = docs.unionByName(injected)
    return contamination.cross_source_overlap(both, group_col="source")


def q_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style n-gram decontamination signal (functions/
    contamination.ngram_contamination): doc_id % 10 == 0 plays the
    benchmark set, the rest is training; per training doc the distinct
    5-gram shingle count, the benchmark-shared count, and the
    contaminated fraction."""
    from renard_spark.functions import contamination

    docs = _docs_spread(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    out = contamination.ngram_contamination(train, bench, w=NGRAM_W)
    return _long_doc_id(
        out.select(
            "doc_id", "n_shingles", "n_shared",
            F.round("frac", 6).alias("frac"),
        )
    )


CURATE_QMIN, CURATE_CMAX = 0.55, 0.3


def q_curated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation decision table (functions/curation.curate):
    MinHash keep-best dedup + quality threshold + n-gram
    decontamination + deterministic split assignment, composed — the
    whole pipeline's keep/drop/split output gated as ONE table, so a
    regression in any stage or in the composition breaks the gate.
    Same train/bench convention as ngram_overlap (doc_id % 10)."""
    from renard_spark.functions.curation import curate

    docs = _docs_spread(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    out = curate(
        train, bench, contam_w=NGRAM_W,
        quality_min=CURATE_QMIN, contam_max=CURATE_CMAX,
    )
    return _long_doc_id(out).withColumn(
        "cluster_id", F.col("cluster_id").cast("long")
    )


SAMPLE_FRAC, QUOTA_N = 0.25, 20


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-Bernoulli corpus sample
    (functions/sampling.sample_by_hash): keyed to doc identity, so the
    result set is identical on any cluster size / partition layout —
    unlike df.sample, whose RNG draw is partition-dependent. Narrow
    (filter fused into the scan)."""
    from renard_spark.functions.sampling import sample_by_hash

    docs = _documents(spark, sf_dir)
    return sample_by_hash(docs, SAMPLE_FRAC).select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )


SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SALT = "split:"
MIX_ALPHA, MIX_SALT = 0.7, "mix:"


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture MATERIALIZED (functions/sampling.
    apply_mixture): the alpha=0.7 per-source weights become keep rates
    (normalized so the heaviest source keeps everything) and each row's
    keep decision is a hash-Bernoulli draw keyed to doc identity —
    the deterministic, replayable form of multi-source rebalancing."""
    from renard_spark.functions import text as ftext
    from renard_spark.functions.sampling import apply_mixture

    docs = _docs_spread(spark, sf_dir)
    w = ftext.mixture_weights(docs, alpha=MIX_ALPHA)
    mx = w.agg(F.max("weight").alias("_mx"))
    rates = w.crossJoin(F.broadcast(mx)).select(
        F.col("grp").alias("source"),
        F.round(F.col("weight") / F.col("_mx"), 6).alias("rate"),
    )
    kept = apply_mixture(docs, rates, salt=MIX_SALT)
    return kept.select("doc_id", "source")


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic disjoint train/val/test assignment
    (functions/sampling.hash_split): consecutive md5-prefix ranges, so
    membership is a pure function of (salt, doc_id) — identical on any
    cluster size, partition layout, or engine. Narrow."""
    from renard_spark.functions.sampling import hash_split

    docs = _documents(spark, sf_dir)
    return hash_split(docs, SPLIT_FRACS, salt=SPLIT_SALT).select(
        "doc_id", "split"
    )


def q_lang_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mixing quota (functions/sampling.stratified_quota):
    at most QUOTA_N docs per language, picked by hash rank — the
    deterministic replayable version of per-source mixing ratios. One
    shuffle keyed by the group column."""
    from renard_spark.functions.sampling import stratified_quota

    docs = _documents(spark, sf_dir)
    return stratified_quota(docs, "lang", QUOTA_N).select("doc_id", "lang")


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (functions/text.tfidf_topk):
    the corpus-keyword operator for curation / topic tagging / filter
    debugging. One (doc, term) count shuffle + a vocabulary-sized df
    aggregation joined back + one per-doc top-k window."""
    from renard_spark.functions import text as ftext

    out = ftext.tfidf_topk(_docs_spread(spark, sf_dir), k=5)
    return _long_doc_id(
        out.select(
            "doc_id", "term",
            F.round("score", 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one bigram-LM negative log-likelihood per document, LM
    trained on the corpus in the same job (functions/text.
    bigram_lm_scores) — the CCNet-style quality signal that separates
    fluent head text from tail/garbage."""
    from renard_spark.functions import text as ftext

    out = ftext.bigram_lm_scores(_docs_spread(spark, sf_dir))
    return _long_doc_id(
        out.select(
            "doc_id", "n_bigrams",
            F.round("bigram_nll", 6).alias("bigram_nll"),
        )
    )


CCNET_K = 3  # head / middle / tail


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (functions/text.ccnet_buckets):
    per-language head/middle/tail split by corpus-LM nll. The per-lang
    rank comes from the two-phase global rank (never a per-language
    single-partition window); the oracle uses plain SQL ntile — the
    floor-rank allocation is pinned equal to ntile semantics."""
    from renard_spark.functions import text as ftext

    return ftext.ccnet_buckets(
        _docs_spread(spark, sf_dir), n_buckets=CCNET_K
    )


BPE_MERGES_N = 12  # training budget at gate scale (prod: 30k+)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (functions/text.
    learn_bpe_merges): Sennrich merge learning over the corpus word-
    frequency table — one corpus token shuffle, then every round is a
    vocabulary-sized pair count + argmax + narrow merge fold. Returns
    the learned merge table (merge_idx, left, right, pair_freq).

    No oracle_sql: the training loop's per-round argmax feeds the next
    round's input — a genuinely iterative, non-SQL-expressible op
    (driver records the rows-only check). Bit-exactness is pytest-
    pinned instead against an independent sequential reference
    implementation (test_learn_bpe_matches_sequential_reference).

    Bench note: each merge round is ONE Spark job, so at test scale
    the query is driver-latency-bound (~0.8s/round regardless of
    data); at production vocabulary sizes (100M+ words) the identical
    loop is compute-bound — the right trade for a training op."""
    from renard_spark.functions import text as ftext

    merges = ftext.learn_bpe_merges(
        _docs_spread(spark, sf_dir), n_merges=BPE_MERGES_N
    )
    return local_table(
        spark, [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "merge_idx int, left string, right string, pair_freq long",
    )


RELATED_T = 0.05      # rounded-cosine inclusion threshold
RELATED_MAXDF = 100   # absolute posting-list cap (see tfidf_related)
RELATED_W = 3         # shingle width


def q_related_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexically related document pairs by shingle TF-IDF cosine
    (functions/text.tfidf_related) — the sparse inverted-index
    complement of the embedding similarity family. The df cap is
    ABSOLUTE so boilerplate shingles can't go quadratic at corpus
    scale. Threshold and value-hash share one consistency point: both
    engines filter on the ROUNDED cosine."""
    from renard_spark.functions import text as ftext

    out = ftext.tfidf_related(
        _docs_spread(spark, sf_dir),
        threshold=0.0, max_df=RELATED_MAXDF, shingle_w=RELATED_W,
    )
    cos6 = F.round("cosine", 6)
    return out.filter(cos6 >= F.lit(RELATED_T)).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        cos6.alias("cosine"),
    )


def q_char_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality on the sparsified character network
    (functions/graph.harmonic_centrality): exact multi-source BFS —
    per round ONE equi-join keyed by node with the source carried in
    the aggregation key. Unrolled to the same fixed rounds as
    char_bfs in both engines."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge)
    out = gmetrics.harmonic_centrality(ge, iters=BFS_ROUNDS)
    return out.select("node", F.round("harmonic", 6).alias("harmonic"))


CHUNK_SIZE, CHUNK_STRIDE = 100, 80


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (functions/text.
    chunk_documents) — the RAG / context-window prep op; entirely
    narrow, zero shuffle. chunk_fp gates the exact token slices."""
    from renard_spark.functions import text as ftext

    out = ftext.chunk_documents(
        _docs_spread(spark, sf_dir), CHUNK_SIZE, CHUNK_STRIDE
    )
    return _long_doc_id(out)


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled per-source sampling weights (functions/text.
    mixture_weights, alpha=0.7): weight ∝ token_share^alpha normalized
    — the standard tail-upsampling mixing rule."""
    from renard_spark.functions import text as ftext

    out = ftext.mixture_weights(_docs_spread(spark, sf_dir))
    return out.select(
        "grp", "n_tokens",
        F.round("token_share", 6).alias("token_share"),
        F.round("weight", 6).alias("weight"),
    )


def q_char_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Brandes betweenness on the sparsified character network
    (functions/graph.betweenness_centrality): forward frontier-BFS
    with σ counts + deepest-first δ accumulation, every phase a
    join+agg round. Fixed-round unrolled in BOTH engines (empty
    levels are no-ops past the diameter)."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge)
    out = gmetrics.betweenness_centrality(ge, iters=BFS_ROUNDS)
    return out.select(
        "node", F.round("betweenness", 6).alias("betweenness")
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def q_event_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (functions/events.asof_join — the point-in-time
    enrichment op Spark lacks natively): every click gets its user's
    most recent at-or-before purchase. ONE union + window pass keyed
    by user — no range self-join, no per-key loop. Right side deduped
    per (user, ts) by max event_id for a deterministic winner."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("event_id"),
            F.max_by("value", "event_id").alias("value"),
        )
    )
    out = fevents.asof_join(
        clicks, purchases, on="user_id", ts_col="ts",
        right_cols=["event_id", "value"],
    )
    return out.select(
        "event_id", "user_id",
        F.col("event_id_r").alias("purchase_id"),
        F.round("value_r", 6).alias("purchase_value"),
        F.col("ts_r").alias("purchase_ts"),
    )


def q_event_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join (functions/events.range_join_buckets):
    clicks joined to [signup, signup+90min) windows of the same user
    via the bucketed equi-join strategy — intervals explode to their
    overlapped hour buckets, points map to one bucket, exact range
    predicate applied post-join. Never a nested-loop range join."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    intervals = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 90 minutes")).alias("end"),
    )
    out = fevents.range_join_buckets(
        clicks, intervals, on="user_id", ts_col="ts", bucket="1 hour"
    )
    return out.select("event_id", "user_id", "signup_id")


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain hypertable rollup (functions/events.
    hypertable_rollup): hour+day continuous-aggregate table in ONE
    GROUPING SETS pass — shared map-side partials across grains."""
    from renard_spark.functions import events as fevents

    out = fevents.hypertable_rollup(_events(spark, sf_dir))
    return out.select(
        "grain", "bucket", "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("total_value", 6).alias("total_value"),
    )


def q_char_assort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the sparsified character network
    (functions/graph.assortativity) — one degree agg + one join + one
    4-sum aggregation, non-iterative."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge)
    out = gmetrics.assortativity(ge)
    return out.select(F.round("assortativity", 6).alias("assortativity"))


def q_char_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition on the same sparsified
    weighted network as char_communities (functions/graph.modularity)
    — the quality number for the detected communities."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = _sparsify_above_mean(ge, factor=1.03)
    comms = gmetrics.label_propagation(ge, iters=LPA_ITERS)
    out = gmetrics.modularity(ge, comms)
    return out.select(F.round("modularity", 6).alias("modularity"))


PROBE_TOKENS = [
    "spark", "customer", "window", "table", "batch", "vector", "data",
    "merge", "zzzmissing",
]


def q_norm_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (functions/text.normalize_text) behind the
    hash gate: the clean driver corpus is deterministically dirtied
    (tabs, curly quotes, an en dash, doubled spaces, uppercase
    prefix) and the normalizer must produce byte-identical cleanups in
    both engines — control chars stripped, unicode punctuation
    ASCII-unified, whitespace collapsed, edges trimmed. Narrow one-scan
    plan (translate + regexp_replace, codegen'd)."""
    from renard_spark.functions import text as tfn

    docs = _docs_spread(spark, sf_dir)
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.lit(" \t“"),
            F.upper(F.expr("substring(text, 1, 8)")),
            F.lit("”  "),
            F.col("text"),
            F.lit(" – end\t"),
        ).alias("text"),
    )
    out = tfn.normalize_text(dirty)
    return _long_doc_id(out.select("doc_id", "norm_text"))


HIST_LO, HIST_HI, HIST_BINS = 0.0, 640.0, 64
HIST_QS = [0.5, 0.9, 0.99]


def q_len_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch (functions/sketch.hist_registers /
    hist_quantiles): per-source doc-length p50/p90/p99 estimated from
    a 64-bin fixed-width register table — the quantile member of the
    mergeable register-row sketch family (count-min / HLL / Bloom).
    One groupBy to the registers, one ≤nbins-row cumulative window per
    group; never a per-value sort."""
    from renard_spark.functions import sketch

    docs = _docs_spread(spark, sf_dir)
    regs = sketch.hist_registers(
        docs, "n_chars", HIST_LO, HIST_HI, HIST_BINS,
        group_cols=("source",),
    )
    out = sketch.hist_quantiles(
        regs, HIST_QS, HIST_LO, HIST_HI, HIST_BINS,
        group_cols=("source",),
    )
    return out.select(
        "source",
        F.round("q", 2).alias("q"),
        F.round("est", 6).alias("est"),
        "n",
    )


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (functions/sketch.count_min): md5-addressed
    d×w register table built in ONE groupBy, probed for a fixed token
    list next to the exact counts — the deterministic cross-engine
    frequency sketch (upward-biased: cms_est >= exact_n always)."""
    from renard_spark.functions import sketch

    docs = _docs_spread(spark, sf_dir)
    cms = sketch.count_min(docs, d=4, w=256)
    probes = local_table(
        spark, [(t,) for t in PROBE_TOKENS], "token string"
    )
    est = sketch.cms_estimate(cms, probes, d=4, w=256)
    toks = docs.select(
        F.explode(
            F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)
        ).alias("tok")
    ).select(F.lower("tok").alias("tok"))
    exact = (
        toks.filter(F.col("tok").isin(PROBE_TOKENS))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    return (
        est.join(exact, est["token"] == exact["tok"], "left")
        .select(
            "token",
            F.coalesce("n", F.lit(0)).cast("long").alias("exact_n"),
            F.col("cms_est").cast("long").alias("cms_est"),
        )
    )


def q_hll_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HyperLogLog distinct-token estimates (functions/
    sketch.hll_registers/hll_estimate): md5 bucketing + exact integer
    bit-length rho (no float log in the registers), linear-counting
    small-range branch — registers bit-identical across engines,
    shown next to the exact distinct counts."""
    from renard_spark.functions import sketch

    docs = _docs_spread(spark, sf_dir)
    regs = sketch.hll_registers(docs, p=8, group_col="source")
    est = sketch.hll_estimate(regs, p=8, group_col="source")
    toks = docs.select(
        F.col("source").alias("grp"),
        F.explode(
            F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)
        ).alias("tok"),
    ).select("grp", F.lower("tok").alias("tok"))
    exact = toks.groupBy("grp").agg(
        F.countDistinct("tok").cast("long").alias("n_exact")
    )
    return est.join(exact, "grp").select(
        "grp", "n_exact", F.round("hll_est", 6).alias("hll_est")
    )


BLOOM_M, BLOOM_K = 1024, 3
BLOOM_SEEN_SOURCES = ["src0", "src1", "src2", "src3", "src4"]


def q_bloom_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter seen-set membership (functions/sketch.bloom_bits /
    bloom_contains): the filter is built over the md5 fingerprints of
    five sources' documents ('yesterday's ingest'), then EVERY document
    probes it — the sublinear-state dedup gate an ingest pipeline runs
    before the expensive near-dup machinery. in_bloom is the filter's
    answer (never a false negative, real false positives at this m/k),
    in_seen the exact membership — both engines reproduce the register
    table bit-for-bit, false positives included."""
    from renard_spark.functions import sketch

    docs = _docs_spread(spark, sf_dir)
    fps = docs.select("doc_id", F.md5("text").alias("key"), "source")
    seen = (
        fps.filter(F.col("source").isin(BLOOM_SEEN_SOURCES))
        .select("key")
        .distinct()
    )
    bits = sketch.bloom_bits(seen, m=BLOOM_M, k=BLOOM_K)
    mem = sketch.bloom_contains(
        bits, fps.select("key").distinct(), m=BLOOM_M, k=BLOOM_K
    )
    return (
        fps.join(mem, "key")
        .join(seen.withColumn("_s", F.lit(1)), "key", "left")
        .select(
            "doc_id",
            "in_bloom",
            F.coalesce("_s", F.lit(0)).cast("long").alias("in_seen"),
        )
    )


PPR_SEEDS_N = 2  # seed set = lexicographically first N characters
EPOCH_ORDER_N = 2  # delivery epochs materialized by the gate query


def q_char_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) over the
    corpus-global character network, seeded at the two
    lexicographically-first characters — the per-entity KG
    neighborhood-relevance primitive; oracle unrolls the same 10
    restart rounds as chained CTEs."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    ge = ge.localCheckpoint(eager=True)  # feeds the seed probe + the loop
    seeds = [
        r["node"]
        for r in ge.select(F.col("src").alias("node"))
        .union(ge.select("dst"))
        .distinct()
        .orderBy("node")
        .limit(PPR_SEEDS_N)
        .collect()
    ]
    ppr = gmetrics.personalized_pagerank(
        ge, seeds, damping=PAGERANK_DAMPING, iters=PAGERANK_ITERS
    )
    return ppr.select("node", F.round("rank", 6).alias("rank"))


def q_kg_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on the materialized KG (operators/triples
    .upsert_triples): the even-doc half of the corpus builds the base
    triple table (version 0), the odd-doc half is the update batch
    (version 1) with single-evidence edges (weight = 1) arriving as
    retractions — last-writer-wins by version on (subj, pred, obj),
    deletes drop the key. One shuffle on the triple key, map-side
    combinable argmax (no window)."""
    unified = unify.naive_unify(_mentions(spark, sf_dir))
    men = unified.select(
        "doc_id", "char_id", "start_idx", "end_idx"
    ).localCheckpoint(eager=True)  # one NER pass feeds both halves

    def half_edges(parity: int) -> DataFrame:
        m = men.filter(F.col("doc_id").cast("long") % 2 == parity)
        e = cooccur.cooccurrence_edges(m, COOCCUR_DIST, "tokens")
        return (
            e.groupBy("src", "dst")
            .agg(F.sum("weight").cast("long").alias("weight"))
        )

    base = triples.edges_to_triples(half_edges(0)).withColumn(
        "version", F.lit(0)
    )
    updates = (
        triples.edges_to_triples(half_edges(1))
        .withColumn("version", F.lit(1))
        .withColumn("deleted", F.col("weight") == 1)
    )
    out = triples.upsert_triples(base, updates)
    return out.select(
        "subj", "pred", "obj",
        F.col("version").cast("long").alias("version"),
        F.col("weight").cast("long").alias("weight"),
    )


def q_token_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf frequency-of-frequencies table of the corpus vocabulary
    (functions/text.token_spectrum): two map-side-combined groupBys
    over one narrow tokenize pass."""
    from renard_spark.functions.text import token_spectrum

    return token_spectrum(_docs_spread(spark, sf_dir))


def q_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle order for training
    delivery (functions/sampling.epoch_order): 2 epochs, each a full
    md5-keyed permutation of the corpus, ranked by the two-phase
    global rank (never a single-partition window)."""
    from renard_spark.functions.sampling import epoch_order

    docs = _docs_spread(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return epoch_order(docs, epochs=EPOCH_ORDER_N)


def q_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the semi-structured JSON payload column
    (functions/events.typed_props, JVM from_json — no Python in the
    parse path), then per-type aggregates of the typed field."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    typed = fevents.typed_props(ev, {"k": "long"})
    return typed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("k").cast("long").alias("n_k"),
        F.min("k").cast("long").alias("k_min"),
        F.max("k").cast("long").alias("k_max"),
        F.sum("k").cast("long").alias("k_sum"),
    )


def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gaps in exact integer microseconds
    (functions/events.event_gaps): one user-keyed lag window."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    return fevents.event_gaps(ev)


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index cell-population stats (functions/similarity
    .cluster_stats): codebook-cell sizes + cosine spread, the IVF
    health table. min/max spreads are summation-order-independent, so
    the table value-hashes identically cross-engine."""
    from renard_spark.functions import similarity

    emb = _embeddings(spark, sf_dir)
    s = similarity.cluster_stats(emb, n_centroids=IVF_CENTROIDS)
    return s.select(
        "centroid_id", "n_vecs",
        F.round("min_cos", 6).alias("min_cos"),
        F.round("max_cos", 6).alias("max_cos"),
    )


FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_WINDOW_S = 7200


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window funnel (functions/events.funnel_levels — the ClickHouse
    windowFunnel analytic): deepest view→click→purchase chain per user
    inside a 2 h span. One user-keyed groupBy + a pure-JVM aggregate
    fold over the sorted (ts, step) array; greedy-max chain starts make
    the fold exact for the ∃-chain semantics, which the oracle states
    directly as per-level EXISTS joins."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    return fevents.funnel_levels(ev, FUNNEL_STEPS, FUNNEL_WINDOW_S)


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (functions/events.retention_cohorts): users
    bucketed by first-activity week, counted at each week offset they
    returned. One distinct + one min-agg + one user-key join + one
    count — no windows."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    r = fevents.retention_cohorts(ev, period="week")
    # gate renders the cohort date as its ISO string: Spark DATE and
    # DuckDB DATE round-trip through pandas as different objects
    return r.select(
        F.col("cohort").cast("string").alias("cohort"), "offset", "n_users"
    )


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (functions/profile.profile_table): per-column
    n / nulls / exact distincts / min / max for the documents table in
    ONE aggregation pass (multi-distinct compiles to Spark's Expand),
    unpivoted via stack. Profiled columns here are integral/string so
    the stringified min/max are engine-stable."""
    from renard_spark.functions.profile import profile_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return profile_table(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def q_kg_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF interchange sink (io/ntriples.triples_to_ntriples): the
    corpus interaction KG serialized as N-Triples lines — blank-node
    ids from md5(name), escaped rdfs:label literals per node. Narrow
    string assembly on top of the same triple table q_triples emits;
    every part file of the text sink is independently valid .nt."""
    from renard_spark.io.ntriples import triples_to_ntriples

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    return triples_to_ntriples(triples.edges_to_triples(edges))


ANOMALY_TRAILING = 24


COMPACT_TARGET = 4096
SKEW_TOPK = 10


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event-type count matrix via Spark's pivot with
    an explicit value list (no extra distinct job — the pivot compiles
    to conditional aggregates in ONE pass), absent cells coalesced
    to 0."""
    ev = _events(spark, sf_dir)
    p = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    return p.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift gate (functions/profile.profile_diff): the full
    documents profile against the src0-excluded snapshot — two
    one-pass profiles + a tiny full-outer join, null-safe drift
    flags."""
    from renard_spark.functions.profile import profile_diff

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return profile_diff(
        docs, docs.filter(F.col("source") != "src0"), PROFILE_COLS
    )


def q_fuzzy_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical alias candidates (functions/text.fuzzy_alias_pairs):
    vocabulary words within one edit, prefix+length double-blocked
    equi self-join — never all-pairs — verified by exact JVM
    levenshtein. The synthetic corpus has no organic near-pairs, so
    (same convention as pii_scrub) deterministic typo variants are
    appended to a doc_id-keyed subset on BOTH engines before the
    operator runs."""
    from renard_spark.functions.text import fuzzy_alias_pairs

    docs = _documents(spark, sf_dir)
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" tablee"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" querry"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" valu"))
            .otherwise(F.lit("")),
        ),
    )
    return fuzzy_alias_pairs(aug)


def q_char_sage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of GraphSAGE-style neighborhood aggregation
    (functions/graph.neighbor_aggregate) over the corpus character
    network, with degree/strength as the node features — one edge
    symmetrize, one neighbor-feature equi-join, one map-side-combined
    agg. Means divide exact integer-valued sums."""
    from renard_spark.functions import graph as gmetrics

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(
        F.sum("weight").cast("long").alias("weight")
    )
    feats = gmetrics.degrees(ge)
    return gmetrics.neighbor_aggregate(feats, ge, ["degree", "strength"])


def q_triple_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fact evidence table (operators/triples.triple_provenance):
    distinct-doc support, total weight, and a deterministic sorted
    doc-id audit sample per corpus triple — ONE shuffle on the triple
    key."""
    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    return triples.triple_provenance(triples.edges_to_triples(edges))


def q_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental component maintenance (operators/cc
    .incremental_components): the even-doc half's co-occurrence graph
    is the standing assignment, the odd-doc half arrives as the new
    edge batch — the fixpoint then runs over |V| star edges + the
    batch, never the full history. The oracle computes plain CC over
    ALL edges (recursive CTE), so the gate proves the quotient
    property cross-engine: incremental == full recompute."""
    from renard_spark.operators.cc import (
        connected_components,
        incremental_components,
    )

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(
        mentions, COOCCUR_DIST, "tokens"
    ).localCheckpoint(eager=True)  # one NER pass feeds both halves
    even = F.col("doc_id").cast("long") % 2 == 0
    assign = connected_components(edges.filter(even).select("src", "dst"))
    return incremental_components(
        assign, edges.filter(~even).select("src", "dst")
    )


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build (functions/events.scd2_versions):
    the event log collapsed to per-user validity intervals of the
    observed event_type — one key-partitioned window shuffle,
    null-safe change detection, deterministic (ts, event_id) order."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    return fevents.scd2_versions(ev)


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event matrix (functions/events
    .event_transitions): user-keyed lead window + pair counts +
    exact-integer row normalization."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    return fevents.event_transitions(ev)


def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU in one grouped-distinct pass (functions/events
    .active_users): events explode to (grain, bucket) map-side, one
    exact distinct aggregation."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    return fevents.active_users(ev)


def q_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (functions/maintenance.skew_stats):
    top-k hottest user keys with corpus share — distributed
    TakeOrdered, no global window."""
    from renard_spark.functions.maintenance import skew_stats

    ev = _events(spark, sf_dir)
    return skew_stats(ev, "user_id", k=SKEW_TOPK)


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style data-quality gate (functions/profile.dq_summary):
    declared expectations → violation counts in ONE conditional-agg
    pass + stack unpivot."""
    from renard_spark.functions.profile import dq_summary

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dq_summary(
        docs,
        not_null=["doc_id", "text"],
        unique=["doc_id"],
        accepted={"lang": ["en", "fr", "de", "es"]},
        ranges={"n_chars": (1, 1_000_000)},
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch / Flesch-Kincaid readability (functions/text
    .readability_scores): narrow regexp counts + exact-integer-ratio
    float formulas, engine-reproducible."""
    from renard_spark.functions.text import readability_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return readability_scores(docs)


def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (functions/maintenance
    .compaction_groups): next-fit sequential packing by cumulative
    start offset over the per-partition file-metadata window — the
    documents table stands in as the file listing (source→partition,
    n_chars→bytes)."""
    from renard_spark.functions.maintenance import compaction_groups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    files = docs.select(
        F.col("source").alias("part_key"),
        F.col("doc_id").alias("file_id"),
        F.col("n_chars").alias("bytes"),
    )
    return compaction_groups(files, COMPACT_TARGET)


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL STREAMING behind the hash gate: the windowFunnel fold
    run as an applyInPandasWithState job over the events table as a
    file stream (availableNow), per-user chain-start state carried
    across micro-batches; the per-user MAX emitted level is gated
    against the same ∃-chain SQL oracle as the batch q_event_funnel —
    stream == batch == oracle."""
    import os
    import tempfile

    from renard_spark.streaming.events import stream_funnel

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    out_dir = tempfile.mkdtemp(prefix="renard_stream_funnel_")
    data = os.path.join(out_dir, "data")
    ckpt = os.path.join(out_dir, "ckpt")
    in_dir = os.path.join(out_dir, "in")
    os.makedirs(in_dir)
    os.symlink(
        f"{sf_dir}/events.parquet", os.path.join(in_dir, "events.parquet")
    )
    sdf = spark.readStream.schema(batch_schema).parquet(in_dir)
    q = (
        stream_funnel(sdf, FUNNEL_STEPS, FUNNEL_WINDOW_S)
        .writeStream.format("parquet")
        .option("path", data)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    return (
        spark.read.parquet(data)
        .groupBy(F.col("user_id").cast("long").alias("user_id"))
        .agg(F.max("level").cast("int").alias("level"))
    )


def q_event_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense gap-filled hourly series + LOCF (functions/events
    .gapfill_locf — the TimescaleDB time_bucket_gapfill/locf pair):
    spine = |keys| × |buckets| from a 1-row scalar bound, carried
    metric is order-independent max."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    return fevents.gapfill_locf(ev, bucket="hour")


def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user
    (functions/events.activity_streaks): gaps-and-islands on the
    engine-portable integer day-rank difference."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    return fevents.activity_streaks(ev)


def q_corpus_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(source, lang) corpus composition (functions/text
    .corpus_cube): one Expand pass, integral sums, subtotal cells
    labelled '(all)'."""
    from renard_spark.functions.text import corpus_cube

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_cube(docs)


def q_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h rate anomaly z-scores per event type
    (functions/events.rate_anomalies): moments from exact integer
    Σn/Σn² window sums so the float score is engine-reproducible."""
    from renard_spark.functions import events as fevents

    ev = _events(spark, sf_dir)
    return fevents.rate_anomalies(ev, trailing=ANOMALY_TRAILING)


CAPTION_SNIPPET = 48


def q_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal (media, caption) training-pair extraction over the
    interleaved span table (operators/linking.caption_pairs): every
    non-text span paired with the nearest text span before and after
    it in document order — the CLIP-style pair builder for the
    interleaved corpus. ONE doc_id-keyed window over the exploded
    spans; no media×text join."""
    from renard_spark.operators import linking

    inter = _interleaved(spark, sf_dir)
    out = linking.caption_pairs(inter, snippet_len=CAPTION_SNIPPET)
    return _long_doc_id(
        out.select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            "kind",
            "media_ref",
            F.coalesce("caption_before", F.lit("")).alias("caption_before"),
            F.coalesce("caption_after", F.lit("")).alias("caption_after"),
        )
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation harness (functions/similarity.topk_recall):
    per-query recall@3 of the SRP-LSH retriever against the exact
    blocked-GEMM top-k on the same vec_id<1000 subset — the measured
    quality/compute dial every approximate retriever here is tuned by.
    k-row-per-query tables equi-joined on (vec_id, neighbor_id); the
    corpus-scale work is the two retrievers themselves."""
    from renard_spark.functions import similarity

    emb = _embeddings(spark, sf_dir).filter(F.col("vec_id") < 1000)
    emb = emb.localCheckpoint(eager=False)
    exact = similarity.cosine_topk_blocked(emb, k=3)
    approx = similarity.srp_lsh_topk(emb, k=3, n_bits=8)
    return similarity.topk_recall(exact, approx)


# SHACL-lite shapes over the extracted relation triples: 'scans' is
# declared functional, 'sorts' inverse-functional, and 'groups'
# subjects must come from the declared domain class.
SHACL_DOMAIN = ["spark", "customer", "window", "join", "merge"]


def q_kg_shacl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG constraint validation (operators/relations.validate_triples):
    SHACL-lite functional / inverse-functional / domain shapes checked
    over the occurrence-level resolved triples BEFORE graph
    materialization — the quality gate that reports malformed nodes
    instead of silently writing them. Map-side-combined groupBys on
    (doc_id, rel, node); the domain class is a broadcast literal."""
    from renard_spark.operators import relations

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs).filter(
        F.col("token").isin(list(CAST_TOKENS))
        | F.lower(F.col("token")).isin(sorted(REL_VERBS))
    ).localCheckpoint(eager=False)
    unified = unify.naive_unify(
        ner.dictionary_ner(toks, CAST_TOKENS)
    ).localCheckpoint(eager=False)
    raw = relations.pattern_relations(unified, toks, verbs=REL_VERBS)
    resolved = relations.resolve_triples(raw, unified)
    out = relations.validate_triples(
        resolved,
        functional=("scans",),
        inverse_functional=("sorts",),
        domains={"groups": SHACL_DOMAIN},
    )
    return _long_doc_id(
        out.select("constraint", "doc_id", "rel", "node", "n")
    )


def q_er_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution cluster quality (functions/metrics.bcubed):
    B-cubed P/R/F1 of the per-doc hypocorism-unified components
    against the gazetteer FAMILY identity as gold — precision 1 by
    construction (components never cross families) while recall <1
    exactly where a document holds two nicknames without the formal
    hub, so the metric is the measured cost of evidence-based linking
    vs oracle identity. Cell-count identity: three groupBys + two
    dimension joins, nothing item×item."""
    from renard_spark.functions.metrics import bcubed

    hmap = F.create_map(*[F.lit(x) for kv in HYPO_MAP.items() for x in kv])
    fam = {n: f for f, n in HYPO_EDGES}
    fam.update({f: f for f, _ in HYPO_EDGES})
    fmap = F.create_map(*[F.lit(x) for kv in fam.items() for x in kv])
    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    toks = tokenize.tokens(docs)
    ments = (
        toks.withColumn("_name", hmap[F.col("token")])
        .filter(F.col("_name").isNotNull())
        .select(
            "doc_id",
            F.col("tok_idx").cast("int").alias("start_idx"),
            (F.col("tok_idx") + 1).cast("int").alias("end_idx"),
            F.col("_name").alias("mention_str"),
            F.lit("PER").alias("tag"),
        )
    )
    unified = unify.graph_rules_unify(ments)
    assign = unified.select(
        "doc_id",
        F.col("char_id").alias("sys_id"),
        fmap[F.col("mention_str")].alias("gold_id"),
    )
    return bcubed(assign, "sys_id", "gold_id", key_cols=("doc_id",))


KG_SELECT_VALUES = (["?r"], [("scans",), ("sorts",)])
KG_SELECT_LIMIT = 25


def q_kg_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 SELECT solution modifiers (functions/kgquery.
    select_solutions): VALUES inline-data restriction, GROUP BY +
    COUNT/COUNT DISTINCT/GROUP_CONCAT/SAMPLE aggregates, HAVING,
    ORDER BY, LIMIT — the reporting layer over bgp_match bindings.
    The VALUES block broadcast-joins (constant-size by construction),
    the aggregates are all partial-aggregable (one shuffle), and
    ORDER BY+LIMIT compiles to TakeOrderedAndProject (per-partition
    top-k, no global sort). Ties cannot occur in the (n DESC, a) order
    because ?a is the group key, so LIMIT is deterministic
    cross-engine. Oracle: the same query in plain SQL."""
    from renard_spark.functions.kgquery import bgp_match, select_solutions

    b = bgp_match(_relation_triples(spark, sf_dir), [("?a", "?r", "?b")])
    return select_solutions(
        b,
        values=KG_SELECT_VALUES,
        group_by=["?a"],
        aggregates=[
            ("count", "*", "n"),
            ("count_distinct", "?b", "partners"),
            ("group_concat", "?r", "rels"),
            ("sample", "?b", "first_partner"),
        ],
        having=["n >= 2"],
        order_by=["DESC(n)", "?a"],
        limit=KG_SELECT_LIMIT,
    )


KANON_BAND = 2000


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity privacy audit (functions/profile.
    k_anonymity — Sweeney 2002, Machanavajjhala 2006) on the customer
    table: equivalence classes over (market segment, nation, account-
    balance band) with class size k, l = distinct name values, and
    the 1/k re-identification risk — the release gate a curation
    pipeline runs before publishing quasi-identifiable rows. ONE hash
    aggregation, output one row per class. Oracle: the same GROUP BY."""
    from renard_spark.functions.profile import k_anonymity

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    qdf = cust.select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / KANON_BAND).cast("long").alias(
            "acct_band"
        ),
        "c_name",
    )
    return k_anonymity(
        qdf, ["c_mktsegment", "c_nationkey", "acct_band"], sensitive="c_name"
    )


CONTAIN_W, CONTAIN_T, CONTAIN_MAXDF = 3, 0.5, 64


def q_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment near-dup pairs (functions/dedup.
    containment_pairs, Broder '97 "roughly contained"): C(A,B) =
    |A∩B|/|A| over df-capped 3-token shingles — catches a document
    embedded in a larger one, which Jaccard LSH structurally misses
    (tiny Jaccard, containment ~1). Candidates from the inverted
    shingle index with the document-frequency cap bounding per-shingle
    fanout; the cap defines the vocabulary for numerator AND
    denominator, so the scores are exact over the capped set and
    cross-engine stable. Oracle: the same inverted-index join in SQL."""
    from renard_spark.functions.dedup import containment_pairs

    return containment_pairs(
        _docs_spread(spark, sf_dir),
        w=CONTAIN_W, threshold=CONTAIN_T, max_df=CONTAIN_MAXDF,
    )


def q_char_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity summarization — the materialized per-character profile
    page of the KG: mention count, document spread, corpus-graph
    degree/strength, and the top-3 interaction partners by weight
    ('|'-joined, weight-desc then name-asc so the string is
    deterministic). Top-k per node comes from sort_array over a
    collect_list of (-w, partner) structs — ONE aggregation, no
    window; isolated characters keep a row via the left join with
    zero/empty profile fields. Oracle: the same stats with a
    row_number window for the top-3."""
    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mstats = unified.groupBy(F.col("char_id").alias("node")).agg(
        F.count(F.lit(1)).alias("mentions"),
        F.countDistinct("doc_id").alias("docs"),
    )
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    ge = edges.groupBy("src", "dst").agg(F.sum("weight").alias("w"))
    sym = ge.select(
        F.col("src").alias("node"), F.col("dst").alias("p"), "w"
    ).unionByName(
        ge.select(F.col("dst").alias("node"), F.col("src").alias("p"), "w")
    )
    gstats = sym.groupBy("node").agg(
        F.count(F.lit(1)).alias("degree"),
        F.sum("w").alias("strength"),
        F.array_join(
            F.transform(
                F.slice(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                (-F.col("w")).alias("nw"),
                                F.col("p").alias("p"),
                            )
                        )
                    ),
                    1, 3,
                ),
                lambda s: s["p"],
            ),
            "|",
        ).alias("top_partners"),
    )
    return mstats.join(gstats, "node", "left").select(
        "node", "mentions", "docs",
        F.coalesce("degree", F.lit(0)).alias("degree"),
        F.coalesce("strength", F.lit(0)).alias("strength"),
        F.coalesce("top_partners", F.lit("")).alias("top_partners"),
    )


def q_er_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage operating-point sweep (functions/dedup.
    threshold_sweep): P/R/F1 at every distinct Fellegi-Sunter match
    weight, with recall measured END-TO-END against the full-universe
    gold count (fingerprint-equal pairs via Σ n·(n-1)/2 over
    fingerprint groups — counted WITHOUT enumerating pairs), so
    blocking misses show up as recall loss. The FS scorer has <= 2^3
    distinct weights, so the sweep table is 8 rows; cumulative counts
    run through the two-phase global rank (never a single-partition
    window). Oracle: the fs_links pair SQL + a windowed cumulative."""
    from renard_spark.functions.dedup import fellegi_sunter, threshold_sweep

    docs = _docs_spread(spark, sf_dir)
    scored = fellegi_sunter(
        docs, window=SNB_WINDOW, key_prefix=SNB_KEYPREFIX
    )
    norm = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    total = (
        docs.select(norm.alias("fp"))
        .groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) DIV 2")).alias("t"))
        .first()[0]
    )
    return threshold_sweep(
        scored, "fs_weight", "agree_fp", total_positives=int(total)
    )


# ASK probes: one that the near-complete relation graph satisfies
# (a scans-chain) and one that no predicate matches — the gate
# hash-checks BOTH boolean outcomes, not just the happy path
ASK_HIT = [("?a", "scans", "?b"), ("?b", "sorts", "?c")]
ASK_MISS = [("?a", "never_pred", "?b")]


def q_kg_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 ASK (functions/kgquery.ask): existence of a BGP
    solution as a one-row boolean DataFrame — the limit(1) sits BEFORE
    the count, so Spark plans a CollectLimit that short-circuits after
    the first produced row (an ASK over 10^12 triples touches one
    input split per join branch in the hit case). Two labeled probes,
    one satisfiable and one not, so the gate checks both outcomes.
    Oracle: EXISTS over the same conjunctive queries."""
    from renard_spark.functions.kgquery import ask

    gt = _relation_triples(spark, sf_dir)
    hit = ask(gt, ASK_HIT).select(
        F.lit("scan_chain").alias("probe"), "answer"
    )
    miss = ask(gt, ASK_MISS).select(
        F.lit("never_pred").alias("probe"), "answer"
    )
    return hit.unionByName(miss)


DESCRIBE_RESOURCES = ["spark", "vector"]


def q_kg_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 DESCRIBE (functions/kgquery.describe, symmetric
    concise-bounded-description flavor): every triple in which the
    requested resources appear as subject or object, tagged with the
    resource and the role — the KG "entity page" dump. The resource
    set is broadcast into two equi-joins (one per role), each pushed
    into the scan as a semi-join filter at scale. With ask and
    describe the engine covers all four SPARQL 1.1 query forms
    (SELECT / CONSTRUCT / ASK / DESCRIBE). Oracle: the two role joins
    as plain SQL, distinct-unioned."""
    from renard_spark.functions.kgquery import describe

    return describe(_relation_triples(spark, sf_dir), DESCRIBE_RESOURCES)


TRCH_ROUNDS = 4

# a rare-predicate chain injected alongside the near-complete relation
# graph so closures and sequences produce discriminating rows (the
# BGP_OPT_EXTRA trick): spark -feeds-> omega -feeds-> beta -feeds->
# gamma -feeds-> delta
PATH_EXTRA = [
    ("spark", "feeds", "omega_probe"),
    ("omega_probe", "feeds", "beta_probe"),
    ("beta_probe", "feeds", "gamma_probe"),
    ("gamma_probe", "feeds", "delta_probe"),
]
PATH_EXPR = "^scans/feeds+ | sorts"


def q_kg_path_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 property-path ALGEBRA (functions/kgquery.eval_path +
    parse_path): the full composable grammar — inverse ^p (a column
    swap, free), sequence p1/p2 (midpoint equi-join), alternative
    p1|p2 (distinct union), one-or-more p+ (iterative-doubling closure
    of the OPERAND's pair relation, never the whole KG), zero-length
    forms p*/p? (identity over the graph's term universe) and negated
    sets !(p1|p2) (a NOT IN predicate filter) — evaluated here as
    ``^scans/feeds+ | sorts`` over the relation triples plus an
    injected rare-predicate chain. Oracle: the same algebra as SQL
    set ops with the closure's doubling rounds unrolled."""
    from renard_spark.functions.kgquery import eval_path

    gt = _relation_triples(spark, sf_dir)
    extra = local_table(
        spark, PATH_EXTRA, "subj string, pred string, obj string"
    )
    return eval_path(gt.unionByName(extra), PATH_EXPR)


def q_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival TEMPORAL reachability over the dynamic
    character network (functions/graph.temporal_reachability, Wu et
    al. VLDB'14 semantics): from each document's lexicographically
    first character, the smallest window in which every other
    character first becomes reachable moving only FORWARD in narrative
    time — the question the static union graph answers wrongly (an
    edge in window 5 cannot relay through an edge in window 2). One
    equi-join + one min-aggregation per BSP round with doc_id riding
    every key: all documents and sources relax simultaneously, no
    driver loop. Fixed rounds so the oracle unrolls the identical
    relaxation (arrivals are monotone; extra rounds are no-ops)."""
    from renard_spark.functions.graph import temporal_reachability

    dyn = _dynamic_edges(spark, sf_dir).localCheckpoint(eager=False)
    sources = dyn.groupBy("doc_id").agg(
        F.min(F.least("src", "dst")).alias("source")
    )
    out = temporal_reachability(dyn, sources, iters=TRCH_ROUNDS)
    return _long_doc_id(
        out.select(
            "doc_id", "source", "node",
            F.col("arrive").cast("long").alias("arrive"),
        )
    )


def q_kg_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 FILTER EXISTS / NOT EXISTS (functions/kgquery
    .bgp_match exists=/not_exists=): left-SEMI and left-ANTI joins of
    the subgroup's bindings onto the solutions — semi-join semantics
    mean a multiply-matching subgroup never duplicates a solution
    (where a plain join would fan out). Both polarities gated: the
    injected sink row is the ONLY scans-target with no outgoing
    relation, so NOT EXISTS isolates exactly it. Oracle: SQL
    EXISTS / NOT EXISTS subqueries."""
    from renard_spark.functions.kgquery import bgp_match

    gt = _relation_triples(spark, sf_dir)
    extra = local_table(
        spark, [BGP_OPT_EXTRA], "subj string, pred string, obj string"
    )
    g = gt.unionByName(extra).localCheckpoint(eager=False)
    req = [("?a", "scans", "?b")]
    sub = [[("?b", "?r", "?c")]]
    e1 = bgp_match(g, req, exists=sub).select(
        F.lit("has_out").alias("probe"), "a", "b"
    )
    e2 = bgp_match(g, req, not_exists=sub).select(
        F.lit("no_out").alias("probe"), "a", "b"
    )
    return e1.unionByName(e2)


def q_kg_graph_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GRAPH keyword over the quad store (functions/kgquery
    .bgp_match graph=): each document is a named graph of its own
    co-occurrence triples, and the 2-hop pattern ?a -iw-> ?b -iw-> ?c
    is matched WITHIN each graph by sharing ?g across quad patterns —
    the doc_id-rides-the-key shape, so 10^9 per-document graphs match
    in ONE equi-join on (g, b) with no driver loop. Oracle: the same
    self-join with doc_id in the key."""
    from renard_spark.functions.kgquery import bgp_match

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    quads = triples.edges_to_triples(edges)
    out = bgp_match(
        quads,
        [
            ("?g", "?a", "interacts_with", "?b"),
            ("?g", "?b", "interacts_with", "?c"),
        ],
        graph="doc_id",
    )
    return out.select(F.col("g").cast("long").alias("g"), "a", "b", "c")


def q_kg_graph_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`p+` INSIDE the GRAPH keyword (functions/graph.
    grouped_transitive_closure via kgquery quad patterns): per-named-
    graph reachability — each document's co-occurrence graph closes
    independently, but ONE grouped doubling fixpoint does them all
    (graph id rides every join key; the early-stop count is global).
    The per-doc graphs are bounded (<= |cast|), so the closure is
    dimension-sized per group no matter how many groups. Oracle: the
    doubling rounds unrolled with doc_id in every key."""
    from renard_spark.functions.kgquery import bgp_match

    unified = unify.naive_unify(_mentions(spark, sf_dir))
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    edges = cooccur.cooccurrence_edges(mentions, COOCCUR_DIST, "tokens")
    quads = triples.edges_to_triples(edges)
    out = bgp_match(
        quads, [("?g", "?a", "interacts_with+", "?c")], graph="doc_id"
    )
    return out.select(F.col("g").cast("long").alias("g"), "a", "c")


def q_kg_void(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VoID-style per-predicate partition statistics (functions/
    kgquery.void_stats): triple count, distinct subject/object counts,
    and (inverse-)functionality per predicate — the four numbers that
    drive join selectivity estimates and ER evidence selection (PARIS'
    functionality measure). ONE predicate-keyed hash agg with two
    exact count_distincts; the reduced side is dimension-sized no
    matter the corpus. Oracle: the same grouped aggregation."""
    from renard_spark.functions.kgquery import void_stats

    return void_stats(_relation_triples(spark, sf_dir))


# subquery gate: the corpus relation graph is predicate-uniform (every
# real predicate has the same triple count), so a popularity threshold
# would be vacuous — two injected triples on a rare predicate give the
# HAVING clause something real to exclude at every scale factor
KG_SUB_EXTRA = [
    ("omega_probe", "audits", "alpha_sink"),
    ("alpha_sink", "audits", "nadir_sink"),
]
KG_SUB_MIN = 10  # excludes the injected 'audits' (n=2), keeps the rest


def q_kg_subselect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 subquery + BIND (functions/kgquery.join_solutions /
    select_solutions bind=): ?a ?p ?b joined with the subselect
    { SELECT ?p (COUNT(*) AS ?n) GROUP BY ?p HAVING ?n >= 10 }, then
    BIND(CONCAT(?a,'#',?p) AS ?key) — the "restrict to popular
    predicates" report. The subselect reduces to one row per predicate
    (dimension-sized → broadcast); BIND is a narrow projection. The
    injected rare predicate is the row HAVING genuinely excludes.
    Oracle: the same aggregate-subquery join in SQL."""
    from renard_spark.functions.kgquery import (
        bgp_match, join_solutions, select_solutions,
    )

    gt = _relation_triples(spark, sf_dir)
    extra = local_table(
        spark, KG_SUB_EXTRA, "subj string, pred string, obj string"
    )
    g = gt.unionByName(extra).localCheckpoint(eager=False)
    outer = bgp_match(g, [("?a", "?p", "?b")])
    inner = select_solutions(
        bgp_match(g, [("?x", "?p", "?y")]),
        group_by=["?p"],
        aggregates=[("count", "*", "n")],
        having=[f"n >= {KG_SUB_MIN}"],
    )
    out = select_solutions(
        join_solutions(outer, inner),
        bind=[("concat(a, '#', p)", "?key")],
    )
    return out.select("a", "p", "b", F.col("n").cast("long").alias("n"), "key")


# coreferee-variant gate: chunk size small enough that test documents
# span multiple chunks, so chunk-boundary semantics are exercised
COREFEREE_CHUNK = 64


def _coreferee_gate_scorer():
    """Deterministic chunk scorer for the SpacyCoreferee-variant gate
    (operators/coref.coreferee_corefs): per chunk, each cast surface's
    occurrences form one chain; an occurrence followed (within the
    chunk) by 'the' expands to the NON-contiguous index set [i, i+2] —
    the coreferee propn-subtree shape that trips the reference's
    whole-chain contiguity discard (corefs/corefs.py:290-303)."""
    cast = set(CAST_TOKENS)

    def scorer(chunks):
        out = []
        for toks in chunks:
            chains: dict[str, list] = {}
            for i, t in enumerate(toks):
                if t in cast:
                    if i + 2 < len(toks) and toks[i + 1] == "the":
                        chains.setdefault(t, []).append([i, i + 2])
                    else:
                        chains.setdefault(t, []).append([i])
            out.append([chains[k] for k in sorted(chains)])
        return out

    return scorer


def q_coreferee_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpacyCoreferee-variant coreference (operators/coref.
    coreferee_corefs, reference corefs/corefs.py:154-322): token lists
    cut into fixed-size chunks with GLOBAL offsets accumulated across
    chunks, an injectable per-chunk annotator, and the reference's
    whole-chain discard when ANY mention is non-contiguous. The gate
    scorer is deterministic (see _coreferee_gate_scorer), so chunking,
    offsets, discard rule, and chain enumeration order are all
    hash-checked against SQL. One mapInPandas over (doc_id, tokens) —
    the per-doc imperative core, Arrow-batched, no per-row Python."""
    from renard_spark.operators.coref import coreferee_corefs

    docs = ingest.normalize_documents(_docs_spread(spark, sf_dir))
    dt = tokenize.doc_tokens(tokenize.tokens(docs))
    out = coreferee_corefs(
        dt, _coreferee_gate_scorer, max_chunk_size=COREFEREE_CHUNK
    )
    return _long_doc_id(
        out.select(
            "doc_id",
            F.col("chain_id").cast("long").alias("chain_id"),
            F.col("start_idx").cast("long").alias("start_idx"),
            F.col("end_idx").cast("long").alias("end_idx"),
            "mention_str",
        )
    )


def q_kg_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 Update (functions/kgquery.update_where): DELETE
    { ?a scans ?b } INSERT { ?a sorts ?b . ?b was_scanned_by ?a }
    WHERE { ?a scans ?b } over the relation graph — the
    predicate-rewrite maintenance op. Most inserted sorts triples
    ALREADY exist (the synthetic graph is near-complete), so the
    set-semantics anti-join is genuinely exercised, not just the happy
    path. Returns the post-update triple set; oracle: the same
    delete/insert as SQL set algebra."""
    from renard_spark.functions.kgquery import update_where

    out = update_where(
        _relation_triples(spark, sf_dir),
        delete=[("?a", "scans", "?b")],
        insert=[("?a", "sorts", "?b"), ("?b", "was_scanned_by", "?a")],
        patterns=[("?a", "scans", "?b")],
    )
    return out.select(
        F.col("subj").alias("s"), F.col("pred").alias("p"),
        F.col("obj").alias("o"),
    )


TRANSE_DIM = 8


def q_transe_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransE link-plausibility scoring over the corpus relation
    triples (functions/kgembed.score_triples — the serving side of a
    KG-completion model, hash-projection mode for the gate; trained
    embedding TABLES broadcast-join through the same operator). All
    arithmetic is dyadic-rational exact, emitted as 2^-32 fixed-point
    BIGINT so the oracle comparison has zero float-formatting risk."""
    from renard_spark.functions.kgembed import score_triples

    out = score_triples(_relation_triples(spark, sf_dir), dim=TRANSE_DIM)
    return out.select(
        F.col("subj").alias("s"), F.col("pred").alias("p"),
        F.col("obj").alias("o"), "score_fp",
    )


def q_distmult_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DistMult bilinear-diagonal scoring over the same corpus triples
    (functions/kgembed.score_triples model="distmult") — the symmetric
    multiplicative family next to TransE's additive one, same
    broadcast-join/hash-projection plumbing. Each hᵢ·rᵢ·tᵢ product is
    rounded to 2^-32 fixed-point BEFORE summation, so the BIGINT gate
    is bit-identical on any IEEE-754 engine regardless of summation
    order (see kgembed._fp)."""
    from renard_spark.functions.kgembed import score_triples

    out = score_triples(
        _relation_triples(spark, sf_dir), dim=TRANSE_DIM, model="distmult"
    )
    return out.select(
        F.col("subj").alias("s"), F.col("pred").alias("p"),
        F.col("obj").alias("o"), "score_fp",
    )


def q_complex_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ComplEx scoring Re(<h, r, t̄>) over the corpus triples
    (functions/kgembed.score_triples model="complex"): re/im halves of
    the same hash-projection vectors, four per-half-dimension products
    each per-term fixed-point rounded — the asymmetric-relation
    upgrade of DistMult, gate-exact by the same argument."""
    from renard_spark.functions.kgembed import score_triples

    out = score_triples(
        _relation_triples(spark, sf_dir), dim=TRANSE_DIM, model="complex"
    )
    return out.select(
        F.col("subj").alias("s"), F.col("pred").alias("p"),
        F.col("obj").alias("o"), "score_fp",
    )


def q_kg_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the TransE / DistMult / ComplEx
    scores over the corpus triples (functions/kgembed.rank_fusion):
    per-predicate ranks from each family plus the fused
    Σ round(2^32/(60+rank)) consensus score — the KG-curation review
    queue. One narrow scoring pass (the models share the hash
    projections) and one exchange reused by all three rank windows."""
    from renard_spark.functions.kgembed import rank_fusion

    out = rank_fusion(_relation_triples(spark, sf_dir), dim=TRANSE_DIM)
    return out.select(
        F.col("subj").alias("s"), F.col("pred").alias("p"),
        F.col("obj").alias("o"),
        "rank_transe", "rank_distmult", "rank_complex", "rrf_fp",
    )


def q_kg_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction evaluation (functions/kgembed.
    link_prediction_ranks): every (subj, pred) scored against the full
    entity vocabulary, true object's 1-based rank + candidate count —
    the per-triple table behind MRR / hits@k. Vocabulary is a
    broadcast dimension on a constant join key (hash join, not a
    nested-loop product); ranks come from ONE window with the
    (score_fp, obj) tie-break so the table hashes identically
    cross-engine."""
    from renard_spark.functions.kgembed import link_prediction_ranks

    out = link_prediction_ranks(
        _relation_triples(spark, sf_dir), dim=TRANSE_DIM
    )
    return out.select(
        F.col("subj").alias("s"), F.col("pred").alias("p"),
        F.col("obj").alias("o"), "rank", "filtered_rank", "n_cands",
    )


def q_kg_lp_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction summary metrics per predicate — MRR and
    hits@{1,3} over the kg_ranks table (one groupBy; the number a
    KG-completion eval reports). Ratios rounded to 6 dp on both
    engines before hashing."""
    from renard_spark.functions.kgembed import link_prediction_ranks

    ranks = link_prediction_ranks(
        _relation_triples(spark, sf_dir), dim=TRANSE_DIM
    )
    return ranks.groupBy(F.col("pred").alias("p")).agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.round(F.avg(F.lit(1.0) / F.col("rank")), 6).alias("mrr"),
        F.round(F.avg((F.col("rank") <= 1).cast("double")), 6)
        .alias("hits1"),
        F.round(F.avg((F.col("rank") <= 3).cast("double")), 6)
        .alias("hits3"),
    )


ANN_BAND_BITS = 2  # sign-bit LSH band width for kg_ranks_ann


def q_kg_ranks_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-prefiltered link prediction (functions/kgembed.
    link_prediction_ranks_ann) — the production-scale variant of
    kg_ranks: candidates per (subj, pred) come from a banded sign-bit
    LSH index over the entity embeddings instead of the full
    vocabulary cross product, then only the survivors are exactly
    scored and ranked. One band equi-join + one rank window; at a
    100M-entity vocabulary this is the layout that replaces the
    allowlisted protocol product (VERDICT r4 item 3). ``retrieved``
    averages to the index's recall vs the exact protocol; the
    measured number is recorded in PLANS.md."""
    from renard_spark.functions.kgembed import link_prediction_ranks_ann

    out = link_prediction_ranks_ann(
        _relation_triples(spark, sf_dir),
        dim=TRANSE_DIM,
        band_bits=ANN_BAND_BITS,
    )
    return out.select(
        F.col("subj").alias("s"), F.col("pred").alias("p"),
        F.col("obj").alias("o"), "ann_rank", "n_cands_ann", "retrieved",
    )


def q_kg_ann_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-side link-prediction summary over the ANN-prefiltered
    rank table — what a production eval dashboard reports per
    predicate: index recall (avg of ``retrieved``; the coverage the
    ANN trades for not scoring the whole vocabulary), MRR and
    hits@{1,3} with index MISSES counted as failures (rank = ∞), so
    the numbers are directly comparable to kg_lp_metrics' exact
    protocol. ONE groupBy downstream of the ANN table."""
    from renard_spark.functions.kgembed import link_prediction_ranks_ann

    ranks = link_prediction_ranks_ann(
        _relation_triples(spark, sf_dir),
        dim=TRANSE_DIM,
        band_bits=ANN_BAND_BITS,
    )
    hit = F.col("retrieved")
    return ranks.groupBy(F.col("pred").alias("p")).agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.round(F.avg(hit.cast("double")), 6).alias("recall_index"),
        F.round(
            F.avg(
                F.when(hit, F.lit(1.0) / F.col("ann_rank")).otherwise(0.0)
            ),
            6,
        ).alias("mrr_ann"),
        F.round(
            F.avg((hit & (F.col("ann_rank") <= 1)).cast("double")), 6
        ).alias("hits1_ann"),
        F.round(
            F.avg((hit & (F.col("ann_rank") <= 3)).cast("double")), 6
        ).alias("hits3_ann"),
    )


# multi-variable VALUES block: restricts (?r, ?a) jointly — the
# two-column inline-data form kg_select's single-variable block
# doesn't exercise
KG_VALUES_BLOCK = (
    ["?r", "?a"],
    [("scans", "spark"), ("sorts", "window"), ("groups", "merge"),
     ("scans", "customer")],
)


def q_kg_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 VALUES as a standalone solution modifier
    (functions/kgquery.select_solutions): a MULTI-variable inline-data
    block ``VALUES (?r ?a) { ... }`` joined onto the BGP bindings on
    both columns at once — row-wise restriction, not two independent
    IN-lists. The block is driver-literal, so the join is a broadcast
    hash join on a constant-size side; no shuffle of the binding
    table. Oracle: row-valued IN over the same tuples."""
    from renard_spark.functions.kgquery import bgp_match, select_solutions

    b = bgp_match(_relation_triples(spark, sf_dir), [("?a", "?r", "?b")])
    return select_solutions(b, values=KG_VALUES_BLOCK)


def q_kg_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 top-level GROUP BY + numeric aggregates
    (functions/kgquery.select_solutions): BIND computes a numeric
    expression over each binding (strlen of the object — BIND before
    grouping, per the spec's evaluation order), then one grouped
    aggregation per predicate with SUM / AVG / MIN / MAX and HAVING.
    All partial-aggregable → ONE shuffle with map-side combine. AVG is
    rounded to 6 dp on both engines before hashing."""
    from renard_spark.functions.kgquery import bgp_match, select_solutions

    b = bgp_match(_relation_triples(spark, sf_dir), [("?a", "?r", "?b")])
    out = select_solutions(
        b,
        bind=[("length(b)", "?blen")],
        group_by=["?r"],
        aggregates=[
            ("count", "*", "n"),
            ("sum", "?blen", "sum_len"),
            ("avg", "?blen", "avg_len"),
            ("min", "?b", "min_b"),
            ("max", "?b", "max_b"),
        ],
        having=["n >= 1"],
    )
    return out.select(
        "r",
        F.col("n").cast("long").alias("n"),
        F.col("sum_len").cast("long").alias("sum_len"),
        F.round("avg_len", 6).alias("avg_len"),
        "min_b", "max_b",
    )


def q_kg_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 Federated Query — SERVICE (functions/kgquery.
    service_solutions): the corpus BGP's bindings joined with a
    pattern evaluated against a SECOND registered triple store (here
    the literal RDFS schema as the "remote endpoint" — in a lakehouse
    each endpoint is another catalog triple table). The service
    pattern's constant predicate pushes down to the endpoint scan;
    the compatibility join runs on the shared ?r variable,
    AQE-broadcast because the endpoint result is schema-sized.
    Oracle: the same join with the schema inlined as VALUES."""
    from renard_spark.functions.kgquery import bgp_match, service_solutions

    outer = bgp_match(
        _relation_triples(spark, sf_dir), [("?a", "?r", "?b")]
    )
    schema = local_table(
        spark, RDFS_SCHEMA, "subj string, pred string, obj string"
    )
    return service_solutions(
        outer,
        {"schema": schema},
        "schema",
        [("?r", "subPropertyOf", "?sup")],
    )


STREAM_JOIN_BOUND_H = 4  # attribution window, hours


def q_stream_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream INTERVAL join (streaming/events.
    stream_interval_join): clicks attributed to views of the same user
    within 4 hours, both sides as file streams replayed in 2
    micro-batch files — StreamingSymmetricHashJoin keeps keyed state
    on BOTH sides, so a view in batch 0 matches a click arriving in a
    later batch (the cross-batch path a foreachBatch join cannot
    take).
    Watermark wider than the corpus's time span → no state eviction →
    output equals the batch interval join, checked bit-exact against
    the DuckDB oracle (delay in exact integer microseconds)."""
    import os
    import tempfile

    from renard_spark.streaming.events import stream_interval_join

    base = tempfile.mkdtemp(prefix="renard_stream_join_")
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    # 2 files x maxFilesPerTrigger=1 -> 2 micro-batches per source:
    # the minimum that still proves cross-batch state matching, and
    # each extra trigger is ~1-2 s of fixed streaming overhead.
    # Only the two joined event types are replayed — the other types
    # never reach the join, so shipping them through the stream is
    # pure fixed cost.
    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click")
    )
    ev.repartition(2).write.parquet(in_dir)

    def src() -> DataFrame:
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )

    # parquet ts is TIMESTAMP_NTZ; watermarks need TIMESTAMP_LTZ. The
    # cast applies one fixed session-zone offset to BOTH sides, so the
    # join window and the microsecond delta are offset-invariant —
    # "fixed" because renard_spark/session.py pins
    # spark.sql.session.timeZone=UTC (no DST transitions); under a
    # DST-observing session zone, events straddling a transition
    # would get different offsets and shift window membership vs the
    # NTZ oracle.
    views = src().filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").cast("timestamp").alias("view_ts"),
    )
    clicks = src().filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
    )
    joined = stream_interval_join(
        views, clicks, "user_id", "view_ts", "click_ts",
        bound=f"{STREAM_JOIN_BOUND_H} hours", watermark="365 days",
    )
    # the state-partition count is frozen per-query from
    # spark.sql.shuffle.partitions at stream start; 8 is plenty for
    # the replay volume and cuts the per-batch state-store checkpoint
    # files (partitions x batches x 2 sides) 4x vs the session's 32 —
    # that fixed HDFS-state-store cycle, not the join, dominated this
    # gate's wall time (VERDICT r4 item 4)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(out_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("view_id").cast("long").alias("view_id"),
        F.col("click_id").cast("long").alias("click_id"),
        (F.unix_micros("click_ts") - F.unix_micros("view_ts"))
        .cast("long").alias("delay_us"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Ordered so the driver's head-sampled correctness gate covers
        # registry entries it has never verified in rounds 1-4 first
        # (names and oracles unchanged; see VERDICT.md round-4 item 1).
        # Round-5 additions lead for the same reason.
        "distmult_scores": q_distmult_scores,
        "complex_scores": q_complex_scores,
        "kg_rank_fusion": q_kg_rank_fusion,
        "char_louvain": q_char_louvain,
        "paragraph_dedup": q_paragraph_dedup,
        "kb_characters": q_kb_characters,
        "stream_triples": q_stream_triples,
        "stream_links": q_stream_links,
        "stream_dedup": q_stream_dedup,
        "entity_links": q_entity_links,
        "media_links": q_media_links,
        "char_pagerank": q_char_pagerank,
        "pii_scrub": q_pii_scrub,
        "repetition_stats": q_repetition_stats,
        "span_candidates": q_span_candidates,
        "char_triangles": q_char_triangles,
        "char_communities": q_char_communities,
        "char_kcore": q_char_kcore,
        "char_corenums": q_char_corenums,
        "doc_sample": q_doc_sample,
        "hash_split": q_hash_split,
        "curated_docs": q_curated_docs,
        "mixture_sample": q_mixture_sample,
        "lang_quota": q_lang_quota,
        "char_bfs": q_char_bfs,
        "char_pmi": q_char_pmi,
        "span_tokens": q_span_tokens,
        "contamination": q_contamination,
        "ngram_overlap": q_ngram_overlap,
        "char_wdist": q_char_wdist,
        "mixture_stats": q_mixture_stats,
        "length_band": q_length_band,
        "boilerplate": q_boilerplate,
        "pack_ids": q_pack_ids,
        "char_hits": q_char_hits,
        "char_katz": q_char_katz,
        "char_ecc": q_char_ecc,
        "char_mst": q_char_mst,
        "char_wl": q_char_wl,
        "char_curvature": q_char_curvature,
        "char_richclub": q_char_richclub,
        "graph_fingerprints": q_graph_fingerprints,
        "dsir_weights": q_dsir_weights,
        "blocking_quality": q_blocking_quality,
        "char_ktruss": q_char_ktruss,
        "char_quotient": q_char_quotient,
        "type_closure": q_type_closure,
        "rel_scc": q_rel_scc,
        "bgp_match": q_bgp_match,
        "bgp_optional": q_bgp_optional,
        "bgp_paths": q_bgp_paths,
        "rdfs_types": q_rdfs_types,
        "char_mis": q_char_mis,
        "sorted_blocking": q_sorted_blocking,
        "kg_construct": q_kg_construct,
        "doc_keywords": q_doc_keywords,
        "char_paths": q_char_paths,
        "nt_roundtrip": q_nt_roundtrip,
        "owl_types": q_owl_types,
        "kg_union": q_kg_union,
        "kg_minus": q_kg_minus,
        "char_anf": q_char_anf,
        "char_coloring": q_char_coloring,
        "char_conductance": q_char_conductance,
        "fs_links": q_fs_links,
        "zorder_keys": q_zorder_keys,
        "char_linkpred": q_char_linkpred,
        "char_walks": q_char_walks,
        "char_walk_pairs": q_char_walk_pairs,
        "char_n2v_walks": q_char_n2v_walks,
        "semantic_dedup": q_semantic_dedup,
        "dedup_keep_best": q_dedup_keep_best,
        "tfidf_terms": q_tfidf_terms,
        "related_docs": q_related_docs,
        "bpe_merges": q_bpe_merges,
        "ccnet_buckets": q_ccnet_buckets,
        "lm_scores": q_lm_scores,
        "char_harmonic": q_char_harmonic,
        "doc_chunks": q_doc_chunks,
        "mixture_weights": q_mixture_weights,
        "char_betweenness": q_char_betweenness,
        "event_asof": q_event_asof,
        "event_range": q_event_range,
        "event_rollup": q_event_rollup,
        "char_assort": q_char_assort,
        "char_modularity": q_char_modularity,
        "cms_counts": q_cms_counts,
        "len_quantiles": q_len_quantiles,
        "norm_text": q_norm_text,
        "hll_tokens": q_hll_tokens,
        "bloom_seen": q_bloom_seen,
        "char_ppr": q_char_ppr,
        "kg_upsert": q_kg_upsert,
        "token_spectrum": q_token_spectrum,
        "epoch_order": q_epoch_order,
        "event_props": q_event_props,
        "event_gaps": q_event_gaps,
        "embedding_clusters": q_embedding_clusters,
        "event_funnel": q_event_funnel,
        "retention": q_retention,
        "table_profile": q_table_profile,
        "kg_ntriples": q_kg_ntriples,
        "stream_funnel": q_stream_funnel,
        "dq_checks": q_dq_checks,
        "char_sage": q_char_sage,
        "triple_provenance": q_triple_provenance,
        "incremental_cc": q_incremental_cc,
        "scd2": q_scd2,
        "event_pivot": q_event_pivot,
        "profile_drift": q_profile_drift,
        "fuzzy_aliases": q_fuzzy_aliases,
        "event_transitions": q_event_transitions,
        "active_users": q_active_users,
        "join_skew": q_join_skew,
        "readability": q_readability,
        "compaction": q_compaction,
        "event_gapfill": q_event_gapfill,
        "user_streaks": q_user_streaks,
        "corpus_cube": q_corpus_cube,
        "event_anomalies": q_event_anomalies,
        "caption_pairs": q_caption_pairs,
        "ann_recall": q_ann_recall,
        "kg_shacl": q_kg_shacl,
        "er_bcubed": q_er_bcubed,
        "kg_select": q_kg_select,
        "k_anonymity": q_k_anonymity,
        "containment_dups": q_containment_dups,
        "char_profiles": q_char_profiles,
        "er_sweep": q_er_sweep,
        "kg_ask": q_kg_ask,
        "kg_describe": q_kg_describe,
        "kg_path_algebra": q_kg_path_algebra,
        "kg_exists": q_kg_exists,
        "kg_graph_bgp": q_kg_graph_bgp,
        "kg_graph_paths": q_kg_graph_paths,
        "kg_void": q_kg_void,
        "temporal_reach": q_temporal_reach,
        "kg_subselect": q_kg_subselect,
        "coreferee_chains": q_coreferee_chains,
        "kg_update": q_kg_update,
        "stream_joins": q_stream_joins,
        "transe_scores": q_transe_scores,
        "kg_ranks": q_kg_ranks,
        "kg_lp_metrics": q_kg_lp_metrics,
        "kg_ranks_ann": q_kg_ranks_ann,
        "kg_ann_metrics": q_kg_ann_metrics,
        "kg_values": q_kg_values,
        "kg_agg": q_kg_agg,
        "kg_service": q_kg_service,
        "token_counts": q_token_counts,
        "naive_characters": q_naive_characters,
        "graph_characters": q_graph_characters,
        "scale_characters": q_scale_characters,
        "cooccur_edges": q_cooccur_edges,
        "triples": q_triples,
        "kg_negatives": q_kg_negatives,
        "alias_priors": q_alias_priors,
        "relation_paths": q_relation_paths,
        "kg_rules": q_kg_rules,
        "char_salience": q_char_salience,
        "mention_contexts": q_mention_contexts,
        "priority_sample": q_priority_sample,
        "edit_near_dups": q_edit_near_dups,
        "ppjoin_pairs": q_ppjoin_pairs,
        "shared_spans": q_shared_spans,
        "graph_diff": q_graph_diff,
        "exact_dedup": q_exact_dedup,
        "dynamic_edges": q_dynamic_edges,
        "edge_spans": q_edge_spans,
        "cumulative_edges": q_cumulative_edges,
        "quality_scores": q_quality_scores,
        "language_id": q_language_id,
        "language_id_multi": q_language_id_multi,
        "fingerprints": q_fingerprints,
        "minhash_bands": q_minhash_bands,
        "near_dup_pairs": q_near_dup_pairs,
        "simhash_groups": q_simhash_groups,
        "cosine_topk": q_cosine_topk,
        "srp_ann_topk": q_srp_ann_topk,
        "bm25_topk": q_bm25_topk,
        "event_windows": q_event_windows,
        "event_sliding": q_event_sliding,
        "event_rolling": q_event_rolling,
        "user_sessions": q_user_sessions,
        "embedding_near_dups": q_embedding_near_dups,
        "session_windows": q_session_windows,
        "bio_entities": q_bio_entities,
        "srp_multi_topk": q_srp_multi_topk,
        "ivf_topk": q_ivf_topk,
        "pq_topk": q_pq_topk,
        "capped_near_dups": q_capped_near_dups,
        "dedup_groups": q_dedup_groups,
        "simhash_near_pairs": q_simhash_near_pairs,
        "linked_characters": q_linked_characters,
        "linked_scale_characters": q_linked_scale_characters,
        "polarity_edges": q_polarity_edges,
        "speaker_edges": q_speaker_edges,
        "winnow_fps": q_winnow_fps,
        "mention_edges": q_mention_edges,
        "dynamic_conversation": q_dynamic_conversation,
        "character_names": q_character_names,
        "bpe_tokens": q_bpe_tokens,
        "global_characters": q_global_characters,
        "winnow_dups": q_winnow_dups,
        "stream_tokens": q_stream_tokens,
        "relation_edges": q_relation_edges,
        "hypocorism_characters": q_hypocorism_characters,
        "gendered_characters": q_gendered_characters,
        "coref_characters": q_coref_characters,
        "token_vocab": q_token_vocab,
        "pattern_matches": q_pattern_matches,
        "span_lineage": q_span_lineage,
        "media_stats": q_media_stats,
        "char_degrees": q_char_degrees,
    }


def _sample_bound() -> str:
    from renard_spark.functions.sampling import hash_frac_bound

    return hash_frac_bound(SAMPLE_FRAC)


def _split_bound(cum_frac: float) -> str:
    from renard_spark.functions.sampling import hash_frac_bound

    return hash_frac_bound(cum_frac)


def oracle_sql() -> dict[str, str]:
    d = COOCCUR_DIST
    edges_ctes = (
        _BASE_CTES
        + f""",
b AS (SELECT doc_id, tok_idx - {d} AS bs, tok_idx + 1 + {d} AS be FROM m),
pairs AS (
  SELECT DISTINCT m1.doc_id, m1.tok_idx AS i, m2.tok_idx AS j,
         m1.token AS t1, m2.token AS t2
  FROM m m1
  JOIN m m2 ON m1.doc_id = m2.doc_id AND m1.tok_idx < m2.tok_idx
  JOIN b ON b.doc_id = m1.doc_id
        AND m1.tok_idx >= b.bs AND m2.tok_idx + 1 <= b.be
)
"""
    )
    # the relation-extraction chain as a reusable CTE block ending in
    # re(doc_id, subj_char, rel, obj_char, n) — shared by
    # relation_edges and relation_paths
    rel_ctes = _BASE_CTES + f"""
            , rk AS (
              SELECT doc_id, tok_idx, token,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY tok_idx) AS r
              FROM m
            ), adj AS (
              SELECT a.doc_id, a.tok_idx AS ai, a.token AS subj,
                     b.tok_idx AS bi, b.token AS obj
              FROM rk a JOIN rk b
                ON a.doc_id = b.doc_id AND b.r = a.r + 1
            ), verbs(verb, rel) AS (
              VALUES {", ".join(f"('{v}', '{r}')" for v, r in REL_VERBS.items())}
            ), vt AS (
              SELECT t.doc_id, t.tok_idx, v.rel
              FROM toks t JOIN verbs v ON lower(t.token) = v.verb
            ), hits AS (
              SELECT adj.doc_id, adj.subj, adj.obj, vt.rel,
                     row_number() OVER (PARTITION BY adj.doc_id, adj.ai
                                        ORDER BY vt.tok_idx) AS rn
              FROM adj JOIN vt ON vt.doc_id = adj.doc_id
                AND vt.tok_idx >= adj.ai + 1 AND vt.tok_idx < adj.bi
            ), re AS (
              SELECT doc_id, subj AS subj_char, rel, obj AS obj_char,
                     count(*)::BIGINT AS n
              FROM hits WHERE rn = 1 AND subj <> obj
              GROUP BY doc_id, subj, rel, obj
              HAVING count(*) >= {REL_MIN_OCC}
            )"""
    # corpus-global character graph + the PageRank rounds unrolled as
    # chained CTEs (DuckDB recursive CTEs cannot aggregate over the
    # recursive reference, so fixed iterations are generated here —
    # same math as functions/graph.py pagerank)
    pr_sql = edges_ctes + """,
e0 AS (
  SELECT least(t1, t2) AS src, greatest(t1, t2) AS dst,
         count(*)::DOUBLE AS w
  FROM pairs WHERE t1 <> t2
  GROUP BY least(t1, t2), greatest(t1, t2)
),
sym AS (SELECT src AS u, dst AS v, w FROM e0
        UNION ALL SELECT dst, src, w FROM e0),
ow AS (SELECT u, sum(w) AS sw FROM sym GROUP BY u),
ep AS (SELECT s.u, s.v, s.w / o.sw AS p FROM sym s JOIN ow o ON o.u = s.u),
nd AS (SELECT DISTINCT u AS node FROM sym),
nn AS (SELECT count(*)::DOUBLE AS c FROM nd),
pr0 AS (SELECT node, 1.0 / (SELECT c FROM nn) AS r FROM nd)"""
    for i in range(PAGERANK_ITERS):
        pr_sql += f""",
pr{i + 1} AS (
  SELECT ep.v AS node,
         (1.0 - {PAGERANK_DAMPING}) / (SELECT c FROM nn)
           + {PAGERANK_DAMPING} * sum(pr{i}.r * ep.p) AS r
  FROM ep JOIN pr{i} ON pr{i}.node = ep.u
  GROUP BY ep.v
)"""
    pr_sql += f"""
SELECT node, round(r, 6) AS rank FROM pr{PAGERANK_ITERS}
"""
    # personalized PageRank: same graph CTEs, restart mass on the two
    # lexicographically-first nodes, left join keeps explicit 0.0 rows
    # for nodes no mass has reached yet (mirrors the Spark loop)
    ppr_seed = (
        "CASE WHEN nd.node IN (SELECT node FROM sd) "
        "THEN 1.0 / (SELECT c FROM sn) ELSE 0.0 END"
    )
    ppr_sql = edges_ctes + f""",
e0 AS (
  SELECT least(t1, t2) AS src, greatest(t1, t2) AS dst,
         count(*)::DOUBLE AS w
  FROM pairs WHERE t1 <> t2
  GROUP BY least(t1, t2), greatest(t1, t2)
),
sym AS (SELECT src AS u, dst AS v, w FROM e0
        UNION ALL SELECT dst, src, w FROM e0),
ow AS (SELECT u, sum(w) AS sw FROM sym GROUP BY u),
ep AS (SELECT s.u, s.v, s.w / o.sw AS p FROM sym s JOIN ow o ON o.u = s.u),
nd AS (SELECT DISTINCT u AS node FROM sym),
sd AS (SELECT node FROM nd ORDER BY node LIMIT {PPR_SEEDS_N}),
sn AS (SELECT count(*)::DOUBLE AS c FROM sd),
ppr0 AS (SELECT nd.node, {ppr_seed} AS r FROM nd)"""
    for i in range(PAGERANK_ITERS):
        ppr_sql += f""",
ppr{i + 1} AS (
  SELECT nd.node,
         (1.0 - {PAGERANK_DAMPING}) * {ppr_seed}
           + {PAGERANK_DAMPING} * coalesce(c.m, 0.0) AS r
  FROM nd LEFT JOIN (
    SELECT ep.v AS node, sum(ppr{i}.r * ep.p) AS m
    FROM ep JOIN ppr{i} ON ppr{i}.node = ep.u
    GROUP BY ep.v
  ) c ON c.node = nd.node
)"""
    ppr_sql += f"""
SELECT node, round(r, 6) AS rank FROM ppr{PAGERANK_ITERS}
"""
    # KG MERGE: per-parity corpus halves as base/update versions,
    # last-writer-wins argmax per triple key, deletes retract
    upsert_sql = edges_ctes + """,
eb AS (
  SELECT least(t1, t2) AS subj, greatest(t1, t2) AS obj,
         count(*)::BIGINT AS w
  FROM pairs WHERE t1 <> t2 AND doc_id % 2 = 0
  GROUP BY least(t1, t2), greatest(t1, t2)
),
eu AS (
  SELECT least(t1, t2) AS subj, greatest(t1, t2) AS obj,
         count(*)::BIGINT AS w
  FROM pairs WHERE t1 <> t2 AND doc_id % 2 = 1
  GROUP BY least(t1, t2), greatest(t1, t2)
),
allr AS (
  SELECT subj, 'interacts_with' AS pred, obj,
         0::BIGINT AS version, w, FALSE AS deleted FROM eb
  UNION ALL
  SELECT subj, 'interacts_with', obj, 1::BIGINT, w, (w = 1) FROM eu
),
win AS (
  SELECT subj, pred, obj,
         max(version) AS version,
         arg_max(w, version) AS weight,
         arg_max(deleted, version) AS deleted
  FROM allr GROUP BY subj, pred, obj
)
SELECT subj, pred, obj, version, weight FROM win WHERE NOT deleted
"""
    # deterministic DeepWalk corpus: the md5-mod-degree pick into the
    # sorted neighbor list, unrolled one CTE per step (same math as
    # functions/graph.random_walks)
    walks_sql = edges_ctes + f""",
e0 AS (
  SELECT DISTINCT least(t1, t2) AS src, greatest(t1, t2) AS dst
  FROM pairs WHERE t1 <> t2
),
symw AS (SELECT src AS u, dst AS v FROM e0
         UNION SELECT dst, src FROM e0),
adjw AS (SELECT u, list_sort(list(DISTINCT v)) AS nbrs
         FROM symw GROUP BY u),
w0 AS (
  SELECT adjw.u || ':' || i.i::VARCHAR AS walk_id, adjw.u AS cur
  FROM adjw CROSS JOIN range(0, {WALKS_R}) i(i)
)"""
    for t in range(1, WALKS_L):
        walks_sql += f""",
w{t} AS (
  SELECT w.walk_id,
         adjw.nbrs[((('0x' || substr(md5('walk:' || w.walk_id
                                          || ':{t}'), 1, 8))::BIGINT
                     % len(adjw.nbrs))::INT + 1)] AS cur
  FROM w{t - 1} w JOIN adjw ON adjw.u = w.cur
)"""
    walks_union = "\nUNION ALL ".join(
        f"SELECT walk_id, {t} AS step, cur AS node FROM w{t}"
        for t in range(WALKS_L)
    )
    walks_sql_ctes = walks_sql + f""",
allw AS (
{walks_union}
)"""
    walks_sql_base = walks_sql_ctes
    walks_sql = walks_sql_ctes + "\nSELECT walk_id, step, node FROM allw"
    # node2vec: uniform step 1, then exact-dyadic biased picks — the
    # window cumsum over (walk_id ORDER BY neighbor index) mirrors the
    # Spark fold's left-to-right order exactly
    inv_p, inv_q = 1.0 / N2V_P, 1.0 / N2V_Q
    n2v_sql = walks_sql_base + f""",
n1 AS (
  SELECT w.walk_id,
         adjw.nbrs[((('0x' || substr(md5('n2v:' || w.walk_id
                                          || ':1'), 1, 8))::BIGINT
                     % len(adjw.nbrs))::INT + 1)] AS cur,
         w.cur AS prev
  FROM w0 w JOIN adjw ON adjw.u = w.cur
)"""
    for t in range(2, WALKS_L):
        n2v_sql += f""",
z{t} AS (
  SELECT y.walk_id, y.cur0, y.nb, y.i,
         sum(CASE WHEN y.nb = y.prev THEN {inv_p}
                  WHEN list_contains(y.pnbrs, y.nb) THEN 1.0
                  ELSE {inv_q} END)
           OVER (PARTITION BY y.walk_id ORDER BY y.i) AS cum,
         sum(CASE WHEN y.nb = y.prev THEN {inv_p}
                  WHEN list_contains(y.pnbrs, y.nb) THEN 1.0
                  ELSE {inv_q} END)
           OVER (PARTITION BY y.walk_id) AS total
  FROM (
    SELECT w.walk_id, w.cur AS cur0, w.prev AS prev,
           a.nbrs[x.i::INT] AS nb, pn.nbrs AS pnbrs, x.i
    FROM n{t - 1} w
    JOIN adjw a ON a.u = w.cur
    JOIN adjw pn ON pn.u = w.prev,
    LATERAL (SELECT unnest(range(1, len(a.nbrs) + 1)) AS i) x
  ) y
),
n{t} AS (
  SELECT walk_id, arg_min(nb, i) AS cur, min(cur0) AS prev
  FROM z{t}
  WHERE cum > (('0x' || substr(md5('n2v:' || walk_id || ':{t}'),
                               1, 8))::BIGINT::DOUBLE
               / 4294967296.0) * total
  GROUP BY walk_id
)"""
    n2v_sql += (
        "\nSELECT walk_id, 0 AS step, cur AS node FROM w0\nUNION ALL "
        + "\nUNION ALL ".join(
            f"SELECT walk_id, {t} AS step, cur AS node FROM n{t}"
            for t in range(1, WALKS_L)
        )
    )
    walk_pairs_sql = walks_sql_ctes + f"""
SELECT a.node AS center, b.node AS context, count(*)::BIGINT AS n_pairs
FROM allw a JOIN allw b
  ON a.walk_id = b.walk_id AND a.step <> b.step
 AND abs(a.step - b.step) <= {SKIPGRAM_W}
GROUP BY a.node, b.node
"""
    lp_sql = edges_ctes + """,
e0 AS (
  SELECT DISTINCT doc_id, least(t1, t2) AS src, greatest(t1, t2) AS dst
  FROM pairs WHERE t1 <> t2
),
sym AS (SELECT doc_id, src AS u, dst AS v FROM e0
        UNION ALL SELECT doc_id, dst, src FROM e0),
dg AS (SELECT doc_id, u, count(*) AS deg FROM sym GROUP BY doc_id, u),
wed AS (
  SELECT l.doc_id, l.v AS a, r.v AS b, l.u AS c
  FROM sym l JOIN sym r
    ON l.doc_id = r.doc_id AND l.u = r.u AND l.v < r.v
),
sc AS (
  SELECT w.doc_id, w.a, w.b, count(*)::BIGINT AS common_neighbors,
         sum(1.0 / ln(d.deg)) AS aa
  FROM wed w JOIN dg d ON d.doc_id = w.doc_id AND d.u = w.c
  GROUP BY w.doc_id, w.a, w.b
),
cand AS (
  SELECT sc.* FROM sc
  LEFT JOIN e0 ON e0.doc_id = sc.doc_id
              AND e0.src = sc.a AND e0.dst = sc.b
  WHERE e0.src IS NULL
)
SELECT c.doc_id, c.a AS u, c.b AS v, c.common_neighbors,
       round(c.common_neighbors::DOUBLE
             / (da.deg + db.deg - c.common_neighbors), 6) AS jaccard,
       round(c.aa, 6) AS adamic_adar
FROM cand c
JOIN dg da ON da.doc_id = c.doc_id AND da.u = c.a
JOIN dg db ON db.doc_id = c.doc_id AND db.u = c.b
"""
    # weighted HITS, rounds unrolled — same sym edge table as
    # pagerank; per round the auth then hub half-steps, each L1-
    # normalized, exactly mirroring functions/graph.py hits
    hits_sql = edges_ctes + """,
e0 AS (
  SELECT least(t1, t2) AS src, greatest(t1, t2) AS dst,
         count(*)::DOUBLE AS w
  FROM pairs WHERE t1 <> t2
  GROUP BY least(t1, t2), greatest(t1, t2)
),
sym AS (SELECT src AS u, dst AS v, w FROM e0
        UNION ALL SELECT dst, src, w FROM e0),
nd AS (SELECT DISTINCT u AS node FROM sym),
nn AS (SELECT count(*)::DOUBLE AS c FROM nd),
h0 AS (SELECT node, 1.0 / (SELECT c FROM nn) AS h FROM nd)"""
    for i in range(HITS_ITERS):
        hits_sql += f""",
ar{i + 1} AS (
  SELECT s.v AS node, sum(s.w * h{i}.h) AS a
  FROM sym s JOIN h{i} ON h{i}.node = s.u GROUP BY s.v
),
a{i + 1} AS (SELECT node, a / sum(a) OVER () AS a FROM ar{i + 1}),
hr{i + 1} AS (
  SELECT s.u AS node, sum(s.w * a{i + 1}.a) AS h
  FROM sym s JOIN a{i + 1} ON a{i + 1}.node = s.v GROUP BY s.u
),
h{i + 1} AS (SELECT node, h / sum(h) OVER () AS h FROM hr{i + 1})"""
    hits_sql += f"""
SELECT h.node, round(h.h, 6) AS hub, round(a.a, 6) AS auth
FROM h{HITS_ITERS} h JOIN a{HITS_ITERS} a ON a.node = h.node
"""
    # synchronous weighted LPA, rounds unrolled; same sparsified graph
    # as char_triangles, same deterministic (max weight-sum, min label)
    # argmax as functions/graph.py label_propagation
    louvain_sql = edges_ctes + """,
eg AS (
  SELECT least(t1, t2) AS a, greatest(t1, t2) AS b,
         count(*)::DOUBLE AS wt
  FROM pairs WHERE t1 <> t2
  GROUP BY least(t1, t2), greatest(t1, t2)
),
ef AS (SELECT a, b, wt FROM eg
       WHERE wt >= (SELECT avg(wt) * 1.03 FROM eg)),
symi AS (SELECT a AS u, b AS v, wt::BIGINT AS w FROM ef
         UNION ALL SELECT b, a, wt::BIGINT FROM ef),
dg AS (SELECT u, sum(w)::BIGINT AS k FROM symi GROUP BY u),
mm AS (SELECT sum(k)::BIGINT AS m2 FROM dg),
s0 AS (SELECT u AS node, u AS comm, k FROM dg)"""
    for i in range(LOUVAIN_ITERS):
        louvain_sql += f""",
tot{i + 1} AS (SELECT comm, sum(k)::BIGINT AS tot, count(*)::BIGINT AS cnt
               FROM s{i} GROUP BY comm),
kuc{i + 1} AS (
  SELECT s.u, st.comm AS c, sum(s.w)::BIGINT AS kuc
  FROM symi s JOIN s{i} st ON st.node = s.v GROUP BY s.u, st.comm),
cand{i + 1} AS (
  SELECT u, c, max(kuc)::BIGINT AS kuc FROM (
    SELECT u, c, kuc FROM kuc{i + 1}
    UNION ALL SELECT node, comm, 0 FROM s{i}
  ) GROUP BY u, c),
s{i + 1} AS (
  SELECT node,
         CASE WHEN cur_cnt = 1 AND c_cnt = 1 AND best > cur
              THEN cur ELSE best END AS comm, k
  FROM (
    SELECT cd.u AS node, cd.c AS best, st.comm AS cur, d.k,
           t.cnt AS c_cnt, tu.cnt AS cur_cnt
    FROM cand{i + 1} cd
    JOIN s{i} st ON st.node = cd.u
    JOIN tot{i + 1} t ON t.comm = cd.c
    JOIN tot{i + 1} tu ON tu.comm = st.comm
    JOIN dg d ON d.u = cd.u
    CROSS JOIN mm
    QUALIFY row_number() OVER (
      PARTITION BY cd.u
      ORDER BY (mm.m2 * cd.kuc
                - st.k * (t.tot - CASE WHEN cd.c = st.comm
                                       THEN st.k ELSE 0 END)) DESC,
               cd.c ASC) = 1))"""
    louvain_sql += f"""
SELECT node, comm AS community FROM s{LOUVAIN_ITERS}
"""

    lpa_sql = edges_ctes + """,
eg AS (
  SELECT least(t1, t2) AS a, greatest(t1, t2) AS b,
         count(*)::DOUBLE AS wt
  FROM pairs WHERE t1 <> t2
  GROUP BY least(t1, t2), greatest(t1, t2)
),
ef AS (SELECT a, b, wt FROM eg
       WHERE wt >= (SELECT avg(wt) * 1.03 FROM eg)),
sym AS (SELECT a AS u, b AS v, wt AS w FROM ef
        UNION ALL SELECT b, a, wt FROM ef),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym)"""
    for i in range(LPA_ITERS):
        lpa_sql += f""",
l{i + 1} AS (
  SELECT s.u AS node, l.label AS label
  FROM sym s JOIN l{i} l ON l.node = s.v
  GROUP BY s.u, l.label
  QUALIFY row_number() OVER (
    PARTITION BY s.u ORDER BY sum(s.w) DESC, l.label ASC) = 1
)"""
    lpa_base = lpa_sql
    lpa_sql += f"\nSELECT node, label FROM l{LPA_ITERS}\n"
    # modularity of the SAME unrolled LPA partition on the same
    # sparsified weighted graph: Q = Σ_intra w / m − Σ_c (tot_c/2m)²
    mod_sql = lpa_base + f""",
lab AS (SELECT node, label FROM l{LPA_ITERS}),
mt AS (SELECT sum(wt) AS m FROM ef),
ic AS (
  SELECT lb.label, sum(e.wt) AS iw
  FROM ef e JOIN lab la ON la.node = e.a JOIN lab lb ON lb.node = e.b
  WHERE la.label = lb.label GROUP BY lb.label
),
st AS (SELECT u AS node, sum(w) AS s FROM sym GROUP BY u),
tc AS (SELECT la.label, sum(st.s) AS tc
       FROM st JOIN lab la ON la.node = st.node GROUP BY la.label)
SELECT round(coalesce((SELECT sum(iw) FROM ic), 0) / mt.m
           - (SELECT sum(pow(tc.tc / (2 * mt.m), 2)) FROM tc), 6)
         AS modularity
FROM mt
"""
    # k-core peel, fixed unrolled rounds (monotone: extra rounds are
    # no-ops once the fixpoint is reached); same avg-sparsified graph
    # as char_triangles
    kc_base = edges_ctes + """,
eg AS (
  SELECT least(t1, t2) AS a, greatest(t1, t2) AS b, count(*) AS wt
  FROM pairs WHERE t1 <> t2
  GROUP BY least(t1, t2), greatest(t1, t2)
),
c0 AS MATERIALIZED (
  SELECT a, b FROM eg WHERE wt >= (SELECT avg(wt) FROM eg))"""
    kc_sql = kc_base
    # each round references the previous round's CTEs several times —
    # MATERIALIZED stops DuckDB inlining them exponentially
    for i in range(KCORE_ROUNDS):
        kc_sql += f""",
d{i} AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM c{i} UNION ALL SELECT b FROM c{i}
  ) GROUP BY node
),
b{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE d < {KCORE_K}),
c{i + 1} AS MATERIALIZED (
  SELECT a, b FROM c{i}
  WHERE a NOT IN (SELECT node FROM b{i})
    AND b NOT IN (SELECT node FROM b{i})
)"""
    kc_sql += f""",
dfin AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM c{KCORE_ROUNDS}
    UNION ALL SELECT b FROM c{KCORE_ROUNDS}
  ) GROUP BY node
)
SELECT node, d::BIGINT AS degree FROM dfin
"""
    # full core-number decomposition: iterated h-index unrolled — each
    # round joins current values onto the symmetric edge list and takes
    # the per-node h-index as a windowed prefix count (ties in the DESC
    # sort don't matter: the sorted multiset is unique, so the count of
    # positions with val >= rank is order-independent). Same fixed-
    # round no-op-past-fixpoint argument as kc_sql.
    cn_sql = kc_base + """,
symn AS (SELECT a AS u, b AS v FROM c0 UNION ALL SELECT b, a FROM c0),
v0 AS MATERIALIZED (SELECT u AS node, count(*) AS val FROM symn GROUP BY u)"""
    for i in range(CORENUM_ROUNDS):
        cn_sql += f""",
h{i} AS (
  SELECT s.u AS node, v.val,
         row_number() OVER (PARTITION BY s.u ORDER BY v.val DESC) AS rn
  FROM symn s JOIN v{i} v ON v.node = s.v
),
v{i + 1} AS MATERIALIZED (
  SELECT node, count(*) AS val FROM h{i} WHERE val >= rn GROUP BY node
)"""
    cn_sql += f"""
SELECT node, val::BIGINT AS core_number FROM v{CORENUM_ROUNDS}
"""
    # Katz centrality: unweighted adjacency, data-adaptive alpha =
    # 0.5 / max degree (ONE scalar subquery), rounds unrolled — same
    # math as functions/graph.py katz_centrality
    katz_sql = edges_ctes + """,
e0 AS (
  SELECT DISTINCT least(t1, t2) AS src, greatest(t1, t2) AS dst
  FROM pairs WHERE t1 <> t2
),
sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM e0
        UNION ALL SELECT dst, src FROM e0),
dgk AS (SELECT u, count(*) AS d FROM sym GROUP BY u),
al AS MATERIALIZED (SELECT 0.5 / max(d) AS a FROM dgk),
x0 AS (SELECT DISTINCT u AS node, 1.0 AS x FROM sym)"""
    for i in range(KATZ_ITERS):
        katz_sql += f""",
x{i + 1} AS (
  SELECT s.v AS node, 1.0 + (SELECT a FROM al) * sum(x{i}.x) AS x
  FROM sym s JOIN x{i} ON x{i}.node = s.u GROUP BY s.v
)"""
    katz_sql += f"""
SELECT node, round(x, 6) AS katz FROM x{KATZ_ITERS}
"""
    # k-truss peel on the avg-sparsified graph, fixed unrolled rounds
    # (monotone — extra rounds past the fixpoint are no-ops); support
    # via the same two-join common-neighbor count as functions/graph.py
    # k_truss. MATERIALIZED: each round reads the previous one 3×.
    kt_sql = kc_base
    for i in range(KTRUSS_ROUNDS):
        kt_sql += f""",
adj{i} AS MATERIALIZED (
  SELECT a AS u, b AS v FROM c{i} UNION ALL SELECT b, a FROM c{i}
),
c{i + 1} AS MATERIALIZED (
  SELECT t.a, t.b, count(*)::BIGINT AS support
  FROM c{i} t
  JOIN adj{i} x ON x.u = t.a
  JOIN adj{i} y ON y.u = t.b AND y.v = x.v
  GROUP BY t.a, t.b
  HAVING count(*) >= {KTRUSS_K - 2}
)"""
    kt_sql += f"""
SELECT a AS src, b AS dst, support FROM c{KTRUSS_ROUNDS}
"""
    # community quotient: the unrolled-LPA labels contracted onto the
    # same sparsified edge table (two joins + one aggregation), same
    # least/greatest canonical pair as functions/graph.quotient_graph
    quot_sql = lpa_base + f""",
lab AS (SELECT node, label FROM l{LPA_ITERS}),
qe AS (
  SELECT least(la.label, lb.label) AS c1,
         greatest(la.label, lb.label) AS c2, e.wt
  FROM ef e JOIN lab la ON la.node = e.a JOIN lab lb ON lb.node = e.b
)
SELECT c1, c2, round(sum(wt), 6) AS weight, count(*)::BIGINT AS n_edges
FROM qe GROUP BY c1, c2
"""
    # ontology closure: the literal subclass DAG closed by the same
    # doubling rounds as functions/graph.transitive_closure, joined
    # onto the corpus entity set (UNION dedups = the Spark distinct)
    _hier_vals = ", ".join(f"('{a}', '{b}')" for a, b in SUBCLASS_EDGES)
    _type_case = " ".join(
        f"WHEN '{t}' THEN '{c}'" for t, c in ONTOLOGY_TYPES.items()
    )
    tc_sql = _BASE_CTES + f""",
h0 AS (SELECT * FROM (VALUES {_hier_vals}) t(sub, sup))"""
    for i in range(TYPE_CLOSURE_ROUNDS):
        tc_sql += f""",
h{i + 1} AS (
  SELECT sub, sup FROM h{i}
  UNION
  SELECT p.sub, q.sup FROM h{i} p JOIN h{i} q ON q.sub = p.sup
)"""
    tc_sql += f""",
ent AS (SELECT DISTINCT token AS entity FROM m),
direct AS (
  SELECT entity, CASE entity {_type_case} END AS cls FROM ent
)
SELECT entity, cls AS type FROM direct
UNION
SELECT d.entity, h.sup AS type
FROM direct d JOIN h{TYPE_CLOSURE_ROUNDS} h ON h.sub = d.cls
"""
    # SCC of the directed corpus relation graph: doubling closure
    # unrolled, then mutual-reachability min + left join for
    # singletons — same shape as functions/graph.strongly_connected
    scc_sql = rel_ctes + """,
d0 AS MATERIALIZED (SELECT DISTINCT subj_char AS a, obj_char AS b FROM re),
p0 AS (SELECT a, b FROM d0)"""
    for i in range(SCC_ROUNDS):
        # MATERIALIZED: each round self-joins the previous one (two
        # references), which plain CTE inlining expands 2^rounds
        scc_sql += f""",
p{i + 1} AS MATERIALIZED (
  SELECT a, b FROM p{i}
  UNION
  SELECT p.a, q.b FROM p{i} p JOIN p{i} q ON q.a = p.b
)"""
    scc_sql += f""",
mu AS (
  SELECT p.a AS node, p.b AS peer
  FROM p{SCC_ROUNDS} p JOIN p{SCC_ROUNDS} q ON q.a = p.b AND q.b = p.a
),
mn AS (SELECT node, min(peer) AS m FROM mu GROUP BY node),
nodes AS (SELECT a AS node FROM d0 UNION SELECT b FROM d0)
SELECT n.node, least(n.node, coalesce(mn.m, n.node)) AS scc_id
FROM nodes n LEFT JOIN mn ON mn.node = n.node
"""
    # maximum spanning forest: Borůvka rounds unrolled — per round the
    # cross-component edge slice, a min-of-struct pick per endpoint
    # side (k = -w → max; DuckDB structs compare field-order, same as
    # Spark), then the picked component graph collapsed by a doubling
    # closure (4 inner rounds cover chains of 16 components).
    # MATERIALIZED pervasively: every CTE here is read 2-3 times.
    mst_sql = edges_ctes + """,
me0 AS MATERIALIZED (
  SELECT least(t1, t2) AS a, greatest(t1, t2) AS b, count(*)::BIGINT AS w
  FROM pairs WHERE t1 <> t2
  GROUP BY least(t1, t2), greatest(t1, t2)
),
ml0 AS MATERIALIZED (
  SELECT node, node AS c FROM (
    SELECT a AS node FROM me0 UNION SELECT b FROM me0)
),
mch0 AS (SELECT a, b, w FROM me0 WHERE false)"""
    for r in range(MST_ROUNDS):
        mst_sql += f""",
mel{r} AS MATERIALIZED (
  SELECT e.a, e.b, e.w, la.c AS ca, lb.c AS cb
  FROM me0 e
  JOIN ml{r} la ON la.node = e.a
  JOIN ml{r} lb ON lb.node = e.b
  WHERE la.c <> lb.c
),
mpk{r} AS MATERIALIZED (
  SELECT (cd).a AS a, (cd).b AS b, -(cd).k AS w,
         (cd).ca AS ca, (cd).cb AS cb
  FROM (
    SELECT cc, min(cd) AS cd FROM (
      SELECT ca AS cc,
             {{'k': -w, 'a': a, 'b': b, 'ca': ca, 'cb': cb}} AS cd
      FROM mel{r}
      UNION ALL
      SELECT cb,
             {{'k': -w, 'a': a, 'b': b, 'ca': ca, 'cb': cb}}
      FROM mel{r}
    ) GROUP BY cc
  )
),
mch{r + 1} AS (SELECT a, b, w FROM mch{r}
               UNION SELECT a, b, w FROM mpk{r}),
mcg{r}_0 AS MATERIALIZED (
  SELECT ca AS u, cb AS v FROM mpk{r}
  UNION SELECT cb, ca FROM mpk{r})"""
        for k in range(4):
            mst_sql += f""",
mcg{r}_{k + 1} AS MATERIALIZED (
  SELECT u, v FROM mcg{r}_{k}
  UNION
  SELECT p.u, q.v FROM mcg{r}_{k} p JOIN mcg{r}_{k} q ON q.u = p.v
)"""
        mst_sql += f""",
mmr{r} AS (SELECT u AS c, least(u, min(v)) AS c2
           FROM mcg{r}_4 GROUP BY u),
ml{r + 1} AS MATERIALIZED (
  SELECT l.node, coalesce(m.c2, l.c) AS c
  FROM ml{r} l LEFT JOIN mmr{r} m ON m.c = l.c
)"""
    mst_sql += f"""
SELECT a AS src, b AS dst, w AS weight FROM mch{MST_ROUNDS}
"""
    # WL color refinement: md5-string rounds over the corpus graph —
    # string_agg(c, ',' ORDER BY c) == Spark's
    # concat_ws(",", sort_array(collect_list(c)))
    wl_sql = edges_ctes + """,
we0 AS (
  SELECT DISTINCT least(t1, t2) AS a, greatest(t1, t2) AS b
  FROM pairs WHERE t1 <> t2
),
wsym AS MATERIALIZED (SELECT a AS u, b AS v FROM we0
                      UNION SELECT b, a FROM we0),
wl0 AS MATERIALIZED (
  SELECT u AS node, md5(count(*)::VARCHAR) AS c FROM wsym GROUP BY u)"""
    for i in range(WL_ITERS):
        wl_sql += f""",
wl{i + 1} AS MATERIALIZED (
  SELECT c.node, md5(c.c || '|' || n.ns) AS c
  FROM wl{i} c JOIN (
    SELECT s.u AS node, string_agg(c2.c, ',' ORDER BY c2.c) AS ns
    FROM wsym s JOIN wl{i} c2 ON c2.node = s.v
    GROUP BY s.u
  ) n ON n.node = c.node
)"""
    wl_sql += f"""
SELECT node, c AS wl_color FROM wl{WL_ITERS}
"""
    # per-document WL graph hash: same rounds with doc_id carried in
    # every key, then md5 of the per-doc sorted color multiset
    gfp_sql = edges_ctes + """,
ge0 AS (
  SELECT DISTINCT doc_id, least(t1, t2) AS a, greatest(t1, t2) AS b
  FROM pairs WHERE t1 <> t2
),
gsym AS MATERIALIZED (SELECT doc_id, a AS u, b AS v FROM ge0
                      UNION SELECT doc_id, b, a FROM ge0),
gl0 AS MATERIALIZED (
  SELECT doc_id, u AS node, md5(count(*)::VARCHAR) AS c
  FROM gsym GROUP BY doc_id, u)"""
    for i in range(WL_ITERS):
        gfp_sql += f""",
gl{i + 1} AS MATERIALIZED (
  SELECT c.doc_id, c.node, md5(c.c || '|' || n.ns) AS c
  FROM gl{i} c JOIN (
    SELECT s.doc_id, s.u AS node, string_agg(c2.c, ',' ORDER BY c2.c) AS ns
    FROM gsym s JOIN gl{i} c2 ON c2.doc_id = s.doc_id AND c2.node = s.v
    GROUP BY s.doc_id, s.u
  ) n ON n.doc_id = c.doc_id AND n.node = c.node
)"""
    gfp_sql += f"""
SELECT doc_id, md5(string_agg(c, ',' ORDER BY c)) AS wl_hash,
       count(*)::BIGINT AS n_nodes
FROM gl{WL_ITERS} GROUP BY doc_id
"""
    # Forman curvature: the k-truss support join + two degree joins,
    # all integers
    cur_sql = edges_ctes + """,
ce0 AS MATERIALIZED (
  SELECT DISTINCT least(t1, t2) AS a, greatest(t1, t2) AS b
  FROM pairs WHERE t1 <> t2
),
cadj AS MATERIALIZED (SELECT a AS u, b AS v FROM ce0
                      UNION ALL SELECT b, a FROM ce0),
csup AS (
  SELECT e.a, e.b, count(*)::BIGINT AS support
  FROM ce0 e
  JOIN cadj x ON x.u = e.a
  JOIN cadj y ON y.u = e.b AND y.v = x.v
  GROUP BY e.a, e.b
),
cdeg AS MATERIALIZED (SELECT u AS n, count(*)::BIGINT AS d
                      FROM cadj GROUP BY u)
SELECT e.a AS src, e.b AS dst, da.d AS deg_src, db.d AS deg_dst,
       coalesce(s.support, 0)::BIGINT AS support,
       (4 - da.d - db.d + 3 * coalesce(s.support, 0))::BIGINT AS curvature
FROM ce0 e
LEFT JOIN csup s ON s.a = e.a AND s.b = e.b
JOIN cdeg da ON da.n = e.a
JOIN cdeg db ON db.n = e.b
"""
    # rich club: suffix sums (strictly-greater, 1 PRECEDING) over the
    # distinct-degree histograms — same one-pass shape as the Spark op
    rc_sql = kc_base + """,
rce0 AS MATERIALIZED (SELECT a, b FROM c0),
rcdeg AS MATERIALIZED (
  SELECT n, count(*)::BIGINT AS d FROM (
    SELECT a AS n FROM rce0 UNION ALL SELECT b FROM rce0
  ) GROUP BY n
),
rcdh AS (SELECT d AS k, count(*)::BIGINT AS nd FROM rcdeg GROUP BY d),
rcem AS (
  SELECT least(da.d, db.d) AS k, count(*)::BIGINT AS ne
  FROM rce0 e JOIN rcdeg da ON da.n = e.a JOIN rcdeg db ON db.n = e.b
  GROUP BY least(da.d, db.d)
),
rck AS (SELECT k FROM rcdh UNION SELECT k FROM rcem),
rch AS (
  SELECT rck.k, coalesce(nd, 0) AS nd, coalesce(ne, 0) AS ne
  FROM rck LEFT JOIN rcdh USING (k) LEFT JOIN rcem USING (k)
),
rcs AS (
  SELECT k,
         coalesce(sum(nd) OVER (ORDER BY k DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS n_nodes,
         coalesce(sum(ne) OVER (ORDER BY k DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS n_edges
  FROM rch
)
SELECT k, n_nodes, n_edges,
       CASE WHEN n_nodes >= 2
            THEN round(2.0 * n_edges / (n_nodes * (n_nodes - 1)), 6)
       END AS phi
FROM rcs
"""
    # the BGP ?a -scans-> ?b -?r-> ?c as plain conjunctive SQL joins
    # over the distinct corpus triples (join keys = shared variables)
    bgp_sql = rel_ctes + """,
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re)
SELECT p1.s AS a, p1.o AS b, p2.o AS c, p2.p AS r
FROM g p1 JOIN g p2 ON p2.s = p1.o
WHERE p1.p = 'scans'
"""
    # OPTIONAL == LEFT JOIN (SPARQL left-join semantics)
    _ex_s, _ex_p, _ex_o = BGP_OPT_EXTRA
    bgpopt_sql = rel_ctes + f""",
g AS (
  SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re
  UNION
  SELECT '{_ex_s}', '{_ex_p}', '{_ex_o}'
)
SELECT p1.s AS a, p1.o AS b, p2.o AS c, p2.p AS r
FROM g p1 LEFT JOIN g p2 ON p2.s = p1.o
WHERE p1.p = 'scans'
"""
    # ASK == EXISTS over the same conjunctive queries (hit + miss)
    ask_sql = rel_ctes + """,
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re)
SELECT 'scan_chain' AS probe,
       EXISTS (SELECT 1 FROM g p1 JOIN g p2 ON p2.s = p1.o
               WHERE p1.p = 'scans' AND p2.p = 'sorts') AS answer
UNION ALL
SELECT 'never_pred',
       EXISTS (SELECT 1 FROM g WHERE p = 'never_pred')
"""
    # DESCRIBE == the two role equi-joins, distinct-unioned
    _desc_vals = ", ".join(f"('{r}')" for r in DESCRIBE_RESOURCES)
    desc_sql = rel_ctes + f""",
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re),
res(resource) AS (VALUES {_desc_vals})
SELECT DISTINCT * FROM (
  SELECT res.resource, 'subj' AS role, g.s AS subj, g.p AS pred, g.o AS obj
  FROM g JOIN res ON g.s = res.resource
  UNION ALL
  SELECT res.resource, 'obj', g.s, g.p, g.o
  FROM g JOIN res ON g.o = res.resource
) u
"""
    # property-path algebra: ^scans/feeds+ | sorts as SQL set ops,
    # the feeds+ closure's doubling rounds unrolled (3 rounds cover
    # paths of length 8 >= the injected chain's diameter 4)
    _px_vals = " UNION SELECT ".join(
        f"'{s}', '{p}', '{o}'" for s, p, o in PATH_EXTRA
    )
    palg_sql = rel_ctes + f""",
g AS (
  SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re
  UNION SELECT {_px_vals}
),
pfeeds0 AS (SELECT s, o FROM g WHERE p = 'feeds')"""
    for i in range(3):
        palg_sql += f""",
pfeeds{i + 1} AS (
  SELECT DISTINCT s, o FROM (
    SELECT s, o FROM pfeeds{i}
    UNION ALL
    SELECT f1.s, f2.o FROM pfeeds{i} f1 JOIN pfeeds{i} f2 ON f2.s = f1.o
  )
)"""
    palg_sql += """,
pinv AS (SELECT o AS s, s AS o FROM g WHERE p = 'scans'),
pseq AS (
  SELECT DISTINCT i.s, f.o FROM pinv i JOIN pfeeds3 f ON f.s = i.o
)
SELECT DISTINCT s, o FROM (
  SELECT s, o FROM pseq
  UNION ALL
  SELECT s, o FROM g WHERE p = 'sorts'
) u
"""
    # FILTER (NOT) EXISTS as SQL (NOT) EXISTS subqueries
    kgex_sql = rel_ctes + f""",
g AS (
  SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re
  UNION
  SELECT '{_ex_s}', '{_ex_p}', '{_ex_o}'
)
SELECT 'has_out' AS probe, p1.s AS a, p1.o AS b FROM g p1
WHERE p1.p = 'scans'
  AND EXISTS (SELECT 1 FROM g p2 WHERE p2.s = p1.o)
UNION ALL
SELECT 'no_out', p1.s, p1.o FROM g p1
WHERE p1.p = 'scans'
  AND NOT EXISTS (SELECT 1 FROM g p2 WHERE p2.s = p1.o)
"""
    # GRAPH-scoped 2-hop: the per-doc quad self-join with doc_id in
    # the join key
    gbgp_sql = edges_ctes + """,
qt AS (SELECT DISTINCT doc_id, least(t1, t2) AS s, greatest(t1, t2) AS o
       FROM pairs WHERE t1 <> t2)
SELECT e1.doc_id AS g, e1.s AS a, e1.o AS b, e2.o AS c
FROM qt e1 JOIN qt e2 ON e2.doc_id = e1.doc_id AND e2.s = e1.o
"""
    # per-graph closure: doubling rounds unrolled with doc_id in
    # every key (per-doc graphs bounded by the cast size, so 4 rounds
    # cover paths of length 16 >= any per-doc diameter)
    gpth_sql = edges_ctes + """,
ctr0 AS (SELECT DISTINCT doc_id, least(t1, t2) AS a, greatest(t1, t2) AS b
         FROM pairs WHERE t1 <> t2)"""
    for i in range(4):
        gpth_sql += f""",
ctr{i + 1} AS (
  SELECT DISTINCT doc_id, a, b FROM (
    SELECT doc_id, a, b FROM ctr{i}
    UNION ALL
    SELECT p1.doc_id, p1.a, p2.b
    FROM ctr{i} p1 JOIN ctr{i} p2
      ON p2.doc_id = p1.doc_id AND p2.a = p1.b
  )
)"""
    gpth_sql += """
SELECT doc_id AS g, a, b AS c FROM ctr4
"""
    # VoID property-partition stats as one grouped aggregation
    void_sql = rel_ctes + """,
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re)
SELECT p AS pred, count(*)::BIGINT AS n_triples,
       count(DISTINCT s)::BIGINT AS n_subjects,
       count(DISTINCT o)::BIGINT AS n_objects,
       round(count(DISTINCT s)::DOUBLE / count(*), 6) AS functionality,
       round(count(DISTINCT o)::DOUBLE / count(*), 6)
         AS inverse_functionality
FROM g GROUP BY p
"""
    # earliest-arrival temporal reachability: the same monotone
    # min-relaxation as functions/graph.temporal_reachability with
    # the rounds unrolled (extra rounds past convergence are no-ops)
    trch_sql = _BASE_CTES + _DYN_CTES + """,
tre AS MATERIALIZED (
  SELECT doc_id, window_id::BIGINT AS w, src AS u, dst AS v FROM dyn_edges
  UNION
  SELECT doc_id, window_id::BIGINT, dst, src FROM dyn_edges
),
trsrc AS (SELECT doc_id, min(least(src, dst)) AS source
          FROM dyn_edges GROUP BY doc_id),
tr0 AS MATERIALIZED (
  SELECT doc_id, source, source AS node, (-1)::BIGINT AS arrive FROM trsrc
)"""
    for i in range(TRCH_ROUNDS):
        trch_sql += f""",
tr{i + 1} AS MATERIALIZED (
  SELECT doc_id, source, node, min(arrive) AS arrive FROM (
    SELECT doc_id, source, node, arrive FROM tr{i}
    UNION ALL
    SELECT e.doc_id, s.source, e.v AS node, e.w AS arrive
    FROM tre e JOIN tr{i} s ON s.doc_id = e.doc_id AND s.node = e.u
    WHERE e.w >= s.arrive
  ) GROUP BY doc_id, source, node
)"""
    trch_sql += f"""
SELECT doc_id, source, node, arrive FROM tr{TRCH_ROUNDS}
"""
    # shortest-path reconstruction: same min(struct(d, path)) BFS
    # relaxation as functions/graph.bfs_paths, rounds unrolled
    pth_sql = kc_base + """,
psym AS MATERIALIZED (SELECT a AS u, b AS v FROM c0
                      UNION ALL SELECT b, a FROM c0),
psrc AS (SELECT min(a) AS s0 FROM c0),
ps0 AS MATERIALIZED (
  SELECT s0 AS node, struct_pack(d := 0, p := [s0]) AS s FROM psrc
)"""
    for i in range(BFS_ROUNDS):
        pth_sql += f""",
ps{i + 1} AS MATERIALIZED (
  SELECT node, min(s) AS s FROM (
    SELECT node, s FROM ps{i}
    UNION ALL
    SELECT e.u AS node,
           struct_pack(d := struct_extract(ps.s, 'd') + 1,
                       p := list_append(struct_extract(ps.s, 'p'), e.u))
             AS s
    FROM psym e JOIN ps{i} ps ON ps.node = e.v
  ) GROUP BY node
)"""
    pth_sql += f"""
SELECT node, struct_extract(s, 'd')::BIGINT AS distance,
       array_to_string(struct_extract(s, 'p'), '->') AS path
FROM ps{BFS_ROUNDS}
"""
    # per-document TextRank rounds unrolled with doc_id in every key —
    # same math as functions/text.textrank_scores
    from renard_spark.functions.text import STOPWORDS_BY_LANG as _SBL

    _tr_sw = sorted(
        set([w for ws in _SBL.values() for w in ws] + list(STOPWORDS))
    )
    _tr_sw_sql = ", ".join(f"'{w}'" for w in _tr_sw)
    trk_sql = f"""
WITH t AS (
  SELECT doc_id, list_filter(
           list_transform(regexp_extract_all(text, '{_SQL_TOKEN_RE}'),
                          x -> lower(x)),
           x -> NOT list_contains([{_tr_sw_sql}], x)) AS tk
  FROM documents
),
g AS (
  SELECT doc_id, u.i - 1 AS pos, u.tok
  FROM t, LATERAL (SELECT unnest(tk) AS tok,
                          generate_subscripts(tk, 1) AS i) u
),
pp AS (
  SELECT a.doc_id, least(a.tok, b.tok) AS t1, greatest(a.tok, b.tok) AS t2
  FROM g a JOIN g b ON b.doc_id = a.doc_id
    AND b.pos > a.pos AND b.pos < a.pos + {TR_WINDOW}
  WHERE a.tok <> b.tok
),
e0 AS (SELECT doc_id, t1, t2, count(*)::DOUBLE AS w
       FROM pp GROUP BY doc_id, t1, t2),
sym AS (SELECT doc_id, t1 AS u, t2 AS v, w FROM e0
        UNION ALL SELECT doc_id, t2, t1, w FROM e0),
ow AS (SELECT doc_id, u, sum(w) AS sw FROM sym GROUP BY doc_id, u),
ep AS MATERIALIZED (
  SELECT s.doc_id, s.u, s.v, s.w / o.sw AS p
  FROM sym s JOIN ow o ON o.doc_id = s.doc_id AND o.u = s.u
),
nd AS (SELECT DISTINCT doc_id, u AS node FROM sym),
nn AS MATERIALIZED (
  SELECT doc_id, count(*)::DOUBLE AS c FROM nd GROUP BY doc_id
),
pr0 AS (
  SELECT nd.doc_id, nd.node, 1.0 / nn.c AS r
  FROM nd JOIN nn ON nn.doc_id = nd.doc_id
)"""
    for i in range(TR_ITERS):
        trk_sql += f""",
pr{i + 1} AS (
  SELECT ep.doc_id, ep.v AS node,
         (1.0 - {TR_DAMPING}) / nn.c
           + {TR_DAMPING} * sum(pr{i}.r * ep.p) AS r
  FROM ep
  JOIN pr{i} ON pr{i}.doc_id = ep.doc_id AND pr{i}.node = ep.u
  JOIN nn ON nn.doc_id = ep.doc_id
  GROUP BY ep.doc_id, ep.v, nn.c
)"""
    trk_sql += f"""
SELECT doc_id, node AS token, round(r, 6) AS score FROM pr{TR_ITERS}
"""
    # CONSTRUCT == per-template projection of the LEFT-JOIN bindings
    # (NULL guards on referenced variables), distinct union
    kgc_sql = rel_ctes + f""",
g AS (
  SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re
  UNION
  SELECT '{_ex_s}', '{_ex_p}', '{_ex_o}'
),
bind AS (
  SELECT p1.s AS a, p1.o AS b, p2.o AS c
  FROM g p1 LEFT JOIN g p2 ON p2.s = p1.o
  WHERE p1.p = 'scans'
)
SELECT subj, pred, obj FROM (
  SELECT a AS subj, 'co_scans' AS pred, c AS obj FROM bind
  WHERE a IS NOT NULL AND c IS NOT NULL
  UNION
  SELECT b, 'scanned_by', a FROM bind
  WHERE b IS NOT NULL AND a IS NOT NULL
) u
"""
    # Luby MIS rounds unrolled — same md5 priorities as
    # functions/graph.maximal_independent_set
    mis_sql = kc_base + """,
msym AS MATERIALIZED (SELECT a AS u, b AS v FROM c0
                      UNION SELECT b, a FROM c0),
mu0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM msym),
mes0 AS MATERIALIZED (SELECT u, v FROM msym)"""
    for i in range(MIS_ROUNDS):
        mis_sql += f""",
mp{i} AS MATERIALIZED (
  SELECT node, md5('{MIS_SEED}:{i}:' || node) || node AS p FROM mu{i}
),
mnm{i} AS MATERIALIZED (
  SELECT e.u AS node, min(p2.p) AS m
  FROM mes{i} e JOIN mp{i} p2 ON p2.node = e.v GROUP BY e.u
),
mw{i} AS MATERIALIZED (
  SELECT p.node FROM mp{i} p LEFT JOIN mnm{i} m ON m.node = p.node
  WHERE m.m IS NULL OR p.p < m.m
),
mg{i} AS MATERIALIZED (
  SELECT node FROM mw{i}
  UNION
  SELECT e.u FROM mes{i} e JOIN mw{i} w ON w.node = e.v
),
mu{i + 1} AS MATERIALIZED (
  SELECT node FROM mu{i} WHERE node NOT IN (SELECT node FROM mg{i})
),
mes{i + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM mes{i} e
  WHERE e.u NOT IN (SELECT node FROM mg{i})
    AND e.v NOT IN (SELECT node FROM mg{i})
)"""
    mis_sql += f""",
mall AS ({" UNION ".join(f"SELECT node FROM mw{i}" for i in range(MIS_ROUNDS))})
SELECT n.node, (CASE WHEN a.node IS NULL THEN 0 ELSE 1 END)::INT AS in_mis
FROM mu0 n LEFT JOIN mall a ON a.node = n.node
"""
    snb_sql = f"""
WITH k AS (
  SELECT doc_id,
         substr(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')),
                1, {SNB_KEYPREFIX}) AS key
  FROM documents
), r AS (
  SELECT doc_id, key,
         row_number() OVER (ORDER BY key, doc_id) - 1 AS rnk
  FROM k
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.key AS key_a, b.key AS key_b,
       (b.rnk - a.rnk)::INT AS rank_dist
FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk < a.rnk + {SNB_WINDOW}
"""
    # property path `scans+` == unrolled doubling closure of the
    # scans slice, composed with the groups pattern on ?y
    bgppath_sql = rel_ctes + """,
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re),
pp0 AS MATERIALIZED (SELECT s AS a, o AS b FROM g WHERE p = 'scans')"""
    for i in range(BGP_PATH_ROUNDS):
        bgppath_sql += f""",
pp{i + 1} AS MATERIALIZED (
  SELECT a, b FROM pp{i}
  UNION
  SELECT p.a, q.b FROM pp{i} p JOIN pp{i} q ON q.a = p.b
)"""
    bgppath_sql += f"""
SELECT c.a AS x, c.b AS y, g2.o AS z
FROM pp{BGP_PATH_ROUNDS} c JOIN g g2 ON g2.s = c.b AND g2.p = 'groups'
"""
    # RDFS entailment strata with the hierarchy closures unrolled —
    # same math as functions/ontology.rdfs_closure
    _rdfs_vals = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in RDFS_SCHEMA)
    rdfs_sql = rel_ctes + f""",
facts AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re),
sch AS (SELECT * FROM (VALUES {_rdfs_vals}) t(s, p, o)),
sp0 AS (SELECT s AS a, o AS b FROM sch WHERE p = 'subPropertyOf'),
sc0 AS (SELECT s AS a, o AS b FROM sch WHERE p = 'subClassOf')"""
    for i in range(RDFS_ROUNDS):
        rdfs_sql += f""",
sp{i + 1} AS (
  SELECT a, b FROM sp{i}
  UNION
  SELECT p.a, q.b FROM sp{i} p JOIN sp{i} q ON q.a = p.b
),
sc{i + 1} AS (
  SELECT a, b FROM sc{i}
  UNION
  SELECT p.a, q.b FROM sc{i} p JOIN sc{i} q ON q.a = p.b
)"""
    rdfs_sql += f""",
cf AS (
  SELECT s, p, o FROM facts
  UNION
  SELECT f.s, h.b, f.o FROM facts f JOIN sp{RDFS_ROUNDS} h ON h.a = f.p
),
ty AS (
  SELECT s, p, o FROM cf WHERE p = 'type'
  UNION
  SELECT cf.s, 'type', d.o FROM cf
  JOIN sch d ON d.p = 'domain' AND d.s = cf.p
  WHERE cf.p <> 'type'
  UNION
  SELECT cf.o, 'type', r.o FROM cf
  JOIN sch r ON r.p = 'range' AND r.s = cf.p
  WHERE cf.p <> 'type'
),
sty AS (
  SELECT t.s, 'type' AS p, h.b AS o
  FROM ty t JOIN sc{RDFS_ROUNDS} h ON h.a = t.o
)
SELECT s AS subj, p AS pred, o AS obj FROM (
  SELECT s, p, o FROM cf WHERE p <> 'type'
  UNION SELECT s, p, o FROM ty
  UNION SELECT s, p, o FROM sty
) u
"""
    # export→import roundtrip must land on the directly-computed facts
    nt_rt_sql = edges_ctes + """
SELECT DISTINCT least(t1, t2) AS subj, 'interacts_with' AS pred,
       greatest(t1, t2) AS obj
FROM pairs WHERE t1 <> t2
"""
    # OWL-lite strata unrolled: sameAs min-propagation components →
    # canonical rewrite → flip (inverse + symmetric) → per-predicate
    # doubling closure of the transitive slice → final flip. Same
    # math as functions/ontology.owl_closure.
    owl_sql = rel_ctes + f""",
g AS MATERIALIZED (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re),
f0 AS MATERIALIZED (
  SELECT s, p, o FROM g
  UNION SELECT '{OWL_ALIAS}', 'sameAs',
               (SELECT min(s) FROM g WHERE p = 'scans')
  UNION SELECT '{OWL_ALIAS2}', 'sameAs', '{OWL_ALIAS}'
  UNION SELECT '{OWL_ALIAS2}', 'sorts',
               (SELECT min(o) FROM g WHERE p = 'sorts')
),
sa AS (SELECT s AS a, o AS b FROM f0 WHERE p = 'sameAs'),
ssym AS (SELECT a AS u, b AS v FROM sa UNION SELECT b, a FROM sa),
cl0 AS (SELECT DISTINCT u AS node, u AS lab FROM ssym)"""
    for i in range(3):
        owl_sql += f""",
cl{i + 1} AS (
  SELECT node, min(lab) AS lab FROM (
    SELECT node, lab FROM cl{i}
    UNION ALL
    SELECT s.u AS node, c.lab FROM ssym s JOIN cl{i} c ON c.node = s.v
  ) GROUP BY node
)"""
    owl_sql += """,
canon AS MATERIALIZED (SELECT node, lab AS cn FROM cl3),
ob AS MATERIALIZED (
  SELECT coalesce(cs.cn, f.s) AS s, f.p, coalesce(co.cn, f.o) AS o
  FROM f0 f
  LEFT JOIN canon cs ON cs.node = f.s
  LEFT JOIN canon co ON co.node = f.o
  WHERE f.p <> 'sameAs'
),
fl1 AS MATERIALIZED (
  SELECT s, p, o FROM ob
  UNION SELECT o, 'scanned_by', s FROM ob WHERE p = 'scans'
  UNION SELECT o, 'scans', s FROM ob WHERE p = 'scanned_by'
  UNION SELECT o, 'groups', s FROM ob WHERE p = 'groups'
),
ot0 AS MATERIALIZED (SELECT s, o FROM fl1 WHERE p = 'sorts')"""
    for i in range(OWL_ROUNDS):
        owl_sql += f""",
ot{i + 1} AS MATERIALIZED (
  SELECT s, o FROM ot{i}
  UNION
  SELECT p1.s, p2.o FROM ot{i} p1 JOIN ot{i} p2 ON p2.s = p1.o
)"""
    owl_sql += f""",
om AS MATERIALIZED (
  SELECT s, p, o FROM fl1 WHERE p <> 'sorts'
  UNION SELECT s, 'sorts', o FROM ot{OWL_ROUNDS}
)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT s AS subj, p AS pred, o AS obj FROM om
  UNION SELECT o, 'scanned_by', s FROM om WHERE p = 'scans'
  UNION SELECT o, 'scans', s FROM om WHERE p = 'scanned_by'
  UNION SELECT o, 'groups', s FROM om WHERE p = 'groups'
) u
"""
    # SPARQL UNION: NULL pad for the branch-unbound variable
    kgu_sql = rel_ctes + """,
g AS MATERIALIZED (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re)
SELECT DISTINCT a, b, c FROM (
  SELECT s AS a, o AS b, CAST(NULL AS VARCHAR) AS c FROM g
  WHERE p = 'scans'
  UNION ALL
  SELECT g1.s, g1.o, g2.o FROM g g1 JOIN g g2 ON g2.s = g1.o
  WHERE g1.p = 'groups' AND g2.p = 'sorts'
) u
"""
    # SPARQL MINUS == NOT EXISTS on the shared variable
    _mx_s, _mx_p, _mx_o = BGP_OPT_EXTRA
    kgm_sql = rel_ctes + f""",
g AS MATERIALIZED (
  SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re
  UNION
  SELECT '{_mx_s}', '{_mx_p}', '{_mx_o}'
)
SELECT p1.s AS a, p1.o AS b FROM g p1
WHERE p1.p = 'scans'
  AND NOT EXISTS (
    SELECT 1 FROM g p2 WHERE p2.p = 'groups' AND p2.s = p1.o)
"""
    # HyperANF oracle: unrolled BFS balls + DIRECT register
    # computation per ball (max-merge associativity makes them equal
    # to the propagated registers), then the same HLL estimate
    _anf_m = 1 << ANF_P
    _anf_alpha = 0.7213 / (1 + 1.079 / _anf_m)
    _anf_a2 = repr(_anf_alpha * _anf_m * _anf_m)
    anf_sql = kc_base + """,
asym AS MATERIALIZED (SELECT a AS u, b AS v FROM c0
                      UNION SELECT b, a FROM c0),
anodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM asym),
areg AS MATERIALIZED (
  SELECT node,
         ('0x' || substr(md5('anfb:' || node), 1, 8))::BIGINT
           % """ + str(_anf_m) + """ AS bucket,
         CASE WHEN v32 = 0 THEN 33
              ELSE 33 - length(bin(v32)) END AS rho
  FROM (SELECT node,
               ('0x' || substr(md5('anfv:' || node), 1, 8))::BIGINT
                 AS v32
        FROM anodes)
),
an0 AS MATERIALIZED (SELECT node AS source, node AS member FROM anodes)"""
    for i in range(ANF_HOPS):
        anf_sql += f""",
an{i + 1} AS MATERIALIZED (
  SELECT source, member FROM an{i}
  UNION
  SELECT a.source, s.u AS member
  FROM asym s JOIN an{i} a ON a.member = s.v
)"""
    _anf_hops_sql = []
    for h in range(ANF_HOPS + 1):
        _anf_hops_sql.append(f"""
  SELECT node, {h}::BIGINT AS hop,
         round(CASE WHEN raw <= {2.5 * _anf_m} AND zeros > 0
                    THEN {float(_anf_m)} * ln({float(_anf_m)} / zeros)
                    ELSE raw END, 6) AS nf_est
  FROM (
    SELECT node, {_anf_a2} / (s2 + ({_anf_m} - nb)) AS raw,
           {_anf_m} - nb AS zeros
    FROM (
      SELECT node, sum(pow(2.0, -rho)) AS s2, count(*) AS nb
      FROM (
        SELECT b.source AS node, r.bucket, max(r.rho) AS rho
        FROM an{h} b JOIN areg r ON r.node = b.member
        GROUP BY b.source, r.bucket
      ) GROUP BY node
    )
  )""")
    anf_sql += "\n" + "\n  UNION ALL".join(_anf_hops_sql) + "\n"
    # Jones-Plassmann rounds unrolled: fixed md5 priorities, winner =
    # priority above every uncolored neighbor, color = smallest absent
    jp_sql = kc_base + f""",
jsym AS MATERIALIZED (SELECT a AS u, b AS v FROM c0
                      UNION SELECT b, a FROM c0),
jun0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM jsym),
jc0 AS MATERIALIZED (
  SELECT node, 0::BIGINT AS color FROM jun0 WHERE FALSE)"""
    for i in range(JP_ROUNDS):
        jp_sql += f""",
ja{i} AS MATERIALIZED (
  SELECT u.node,
         max(CASE WHEN c.color IS NULL
                  THEN md5('{JP_SEED}:' || s.v) || s.v END) AS mx,
         coalesce(list_sort(list_distinct(
           list(c.color) FILTER (WHERE c.color IS NOT NULL))),
           []::BIGINT[]) AS used
  FROM jun{i} u
  JOIN jsym s ON s.u = u.node
  LEFT JOIN jc{i} c ON c.node = s.v
  GROUP BY u.node
),
jw{i} AS MATERIALIZED (
  SELECT node,
         coalesce(list_filter(range(0, len(used) + 1),
                              k -> NOT list_contains(used, k))[1],
                  0)::BIGINT AS color
  FROM ja{i}
  WHERE mx IS NULL OR (md5('{JP_SEED}:' || node) || node) > mx
),
jc{i + 1} AS MATERIALIZED (
  SELECT node, color FROM jc{i} UNION ALL SELECT node, color FROM jw{i}
),
jun{i + 1} AS MATERIALIZED (
  SELECT node FROM jun{i}
  WHERE node NOT IN (SELECT node FROM jw{i}))"""
    jp_sql += f"""
SELECT node, color FROM jc{JP_ROUNDS}
"""
    # conductance of the unrolled-LPA partition on the same weighted
    # sparsified graph: one aggregation pass, exact integer sums
    cond_sql = lpa_base + f""",
clab AS MATERIALIZED (SELECT node, label FROM l{LPA_ITERS}),
cagg AS (
  SELECT lu.label AS community, sum(s.w) AS vol_w,
         sum(CASE WHEN lu.label <> lv.label THEN s.w ELSE 0 END)
           AS cut_w
  FROM sym s
  JOIN clab lu ON lu.node = s.u
  JOIN clab lv ON lv.node = s.v
  GROUP BY lu.label
),
csz AS (SELECT label AS community, count(*)::BIGINT AS n_nodes
        FROM clab GROUP BY label),
ctot AS (SELECT sum(vol_w) AS tot FROM cagg)
SELECT c.community, z.n_nodes, c.cut_w, c.vol_w,
       round(CASE WHEN least(c.vol_w, t.tot - c.vol_w) > 0
                  THEN c.cut_w / least(c.vol_w, t.tot - c.vol_w)
                  ELSE 0.0 END, 6) AS conductance
FROM cagg c JOIN csz z USING (community) CROSS JOIN ctot t
"""
    # Fellegi-Sunter: sorted-neighborhood pairs + exact-integer
    # agreement vector + driver-inlined log-likelihood constants
    import math as _math
    from renard_spark.functions.dedup import FS_DEFAULT_MU as _FS_MU

    def _fs_w(field: str) -> tuple[str, str]:
        m_, u_ = _FS_MU[field]
        return repr(_math.log2(m_ / u_)), repr(
            _math.log2((1 - m_) / (1 - u_))
        )

    _fp1, _fp0 = _fs_w("fp")
    _lb1, _lb0 = _fs_w("len_band")
    _jc1, _jc0 = _fs_w("jaccard")
    fs_sql = f"""
WITH k AS (
  SELECT doc_id,
         substr(lower(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')),
                1, {SNB_KEYPREFIX}) AS key
  FROM documents
), r AS (
  SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) - 1 AS rnk
  FROM k
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk < a.rnk + {SNB_WINDOW}
), feats AS (
  SELECT doc_id AS id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         length(bin(length(text) + 1)) - 1 AS band,
         list_sort(list_distinct(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'),
           x -> x <> ''))) AS toks
  FROM documents
), p AS (
  SELECT c.doc_a, c.doc_b,
         (fa.fp = fb.fp)::BIGINT AS agree_fp,
         (fa.band = fb.band)::BIGINT AS agree_len,
         (len(fa.toks) + len(fb.toks)
            - len(list_intersect(fa.toks, fb.toks)) > 0
          AND 2 * len(list_intersect(fa.toks, fb.toks))
            >= len(fa.toks) + len(fb.toks)
               - len(list_intersect(fa.toks, fb.toks)))::BIGINT
           AS agree_jac
  FROM cand c
  JOIN feats fa ON fa.id = c.doc_a
  JOIN feats fb ON fb.id = c.doc_b
)
SELECT doc_a, doc_b, agree_fp, agree_len, agree_jac,
       round((CASE WHEN agree_fp = 1 THEN {_fp1} ELSE {_fp0} END)
           + (CASE WHEN agree_len = 1 THEN {_lb1} ELSE {_lb0} END)
           + (CASE WHEN agree_jac = 1 THEN {_jc1} ELSE {_jc0} END), 6)
         AS fs_weight
FROM p
"""
    # Z-order keys from the SAME generated Morton arithmetic
    from renard_spark.functions.maintenance import zorder_key_sql as _zk

    zorder_sql = f"""
WITH b AS (
  SELECT event_id, event_id % {ZORDER_DIM} AS x,
         user_id % {ZORDER_DIM} AS y
  FROM events
)
SELECT event_id, x, y,
       ({_zk("x", "y", ZORDER_BITS)})::BIGINT AS zkey
FROM b
"""
    # degree assortativity on the avg-sparsified (factor 1.0) graph:
    # integer sums (exact), one float division at the end
    as_sql = kc_base + """,
symn AS (SELECT a AS u, b AS v FROM c0 UNION ALL SELECT b, a FROM c0),
dg AS (SELECT u, count(*) AS d FROM symn GROUP BY u),
en AS (SELECT dx.d AS dx, dy.d AS dy
       FROM symn s JOIN dg dx ON dx.u = s.u JOIN dg dy ON dy.u = s.v),
sm AS (SELECT count(*) AS n, sum(dx) AS sx,
              sum(dx * dy) AS sxy, sum(dx * dx) AS sxx
       FROM en)
SELECT round((n * sxy - sx * sx) / (n * sxx - sx * sx), 6)
         AS assortativity
FROM sm
"""
    # multi-source BFS unroll for harmonic centrality: same monotone
    # min-distance rounds as bfs_sql with the source carried in the key
    hc_sql = kc_base + """,
symn AS (SELECT a AS u, b AS v FROM c0 UNION ALL SELECT b, a FROM c0),
hn0 AS MATERIALIZED (
  SELECT node AS source, node, 0 AS d
  FROM (SELECT DISTINCT u AS node FROM symn))"""
    for i in range(BFS_ROUNDS):
        hc_sql += f""",
hn{i + 1} AS MATERIALIZED (
  SELECT source, node, min(d) AS d FROM (
    SELECT source, node, d FROM hn{i}
    UNION ALL
    SELECT hn{i}.source, s.u, hn{i}.d + 1
    FROM symn s JOIN hn{i} ON hn{i}.node = s.v
  ) GROUP BY source, node
)"""
    hc_base = hc_sql
    hc_sql += f"""
SELECT source AS node, round(sum(1.0 / d), 6) AS harmonic
FROM hn{BFS_ROUNDS} WHERE d > 0 GROUP BY source
"""
    # eccentricity: same multi-source-BFS rounds, max instead of Σ 1/d
    ecc_sql = hc_base + f"""
SELECT source AS node, max(d)::BIGINT AS ecc
FROM hn{BFS_ROUNDS} GROUP BY source
"""
    # DSIR importance weights: hashed-bigram buckets, en-target vs raw
    # add-one unigram models, per-doc Σ m·llr — the same op sequence
    # as functions/sampling.dsir_weights (ln(ct+1) − ln(Nt+B) −
    # ln(cr+1) + ln(Nr+B), left-to-right)
    dsir_sql = f"""
WITH t AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(text, '{_SQL_TOKEN_RE}'),
                        x -> lower(x)) AS tk
  FROM documents
),
tgt AS (
  SELECT doc_id,
         (len(list_filter(tk, x -> list_contains([{_SW_SQL}], x)))::DOUBLE
          / greatest(len(tk), 1)) >= 0.08 AS is_t
  FROM t
),
bgc AS MATERIALIZED (
  SELECT t.doc_id, g.is_t AS _t,
         ('0x' || substr(md5(t.tk[i.i] || ' ' || t.tk[i.i + 1]), 1, 8))
           ::BIGINT % {DSIR_BUCKETS} AS b,
         count(*) AS m
  FROM t JOIN tgt g USING (doc_id),
       LATERAL (SELECT generate_subscripts(t.tk, 1) AS i) i
  WHERE i.i < len(t.tk)
  GROUP BY t.doc_id, g.is_t, b
),
raw AS (SELECT b, sum(m) AS cr FROM bgc GROUP BY b),
tg AS (SELECT b, sum(m) AS ct FROM bgc WHERE _t GROUP BY b),
st AS MATERIALIZED (
  SELECT r.b, r.cr, coalesce(t2.ct, 0) AS ct
  FROM raw r LEFT JOIN tg t2 USING (b)
),
tots AS MATERIALIZED (SELECT sum(cr) AS nr, sum(ct) AS nt FROM st)
SELECT bgc.doc_id, sum(bgc.m)::BIGINT AS n_feats,
       round(sum(bgc.m * (ln(st.ct + 1)
                          - ln((SELECT nt FROM tots) + {DSIR_BUCKETS})
                          - ln(st.cr + 1)
                          + ln((SELECT nr FROM tots) + {DSIR_BUCKETS}))),
             6) AS dsir_logweight
FROM bgc JOIN st USING (b) GROUP BY bgc.doc_id
"""
    # blocking-quality summary: LSH candidate pairs vs the
    # normalized-fingerprint exact-duplicate ground truth
    bq_sql = _MINHASH_CTES + r""",
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
fp AS MATERIALIZED (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS nf
  FROM documents
),
nd AS (SELECT count(*) AS n FROM fp),
tr AS (SELECT coalesce(sum(k * (k - 1) / 2), 0)::BIGINT AS t
       FROM (SELECT count(*) AS k FROM fp GROUP BY nf)),
hc2 AS (SELECT count(*) AS h
        FROM cand c
        JOIN fp a ON a.doc_id = c.doc_a
        JOIN fp b ON b.doc_id = c.doc_b AND b.nf = a.nf),
cc2 AS (SELECT count(*) AS c FROM cand)
SELECT (SELECT n FROM nd)::BIGINT AS n_docs,
       (SELECT t FROM tr) AS n_truth_pairs,
       (SELECT c FROM cc2)::BIGINT AS n_cand_pairs,
       (SELECT h FROM hc2)::BIGINT AS n_hits,
       CASE WHEN (SELECT t FROM tr) > 0
            THEN round((SELECT h FROM hc2)::DOUBLE / (SELECT t FROM tr), 6)
       END AS pairs_completeness,
       CASE WHEN (SELECT n FROM nd) > 1
            THEN round(1.0 - (SELECT c FROM cc2)::DOUBLE
                       / ((SELECT n FROM nd) * ((SELECT n FROM nd) - 1) / 2),
                       6)
       END AS reduction_ratio
"""
    # Brandes betweenness unroll: forward frontier BFS with σ counts
    # (bf{k} = level-k rows, rc{k} = reached set for the anti-join),
    # then the backward δ sweep dl{R}..dl{1} — levels past the
    # diameter are empty and every stage past them is a no-op, so the
    # fixed unroll equals the fixpoint exactly (pytest-asserted vs
    # networkx in tests/test_graph_metrics.py)
    hb_sql = kc_base + """,
symn AS (SELECT a AS u, b AS v FROM c0 UNION ALL SELECT b, a FROM c0),
bf0 AS MATERIALIZED (
  SELECT node AS source, node, 0 AS d, 1.0 AS sigma
  FROM (SELECT DISTINCT u AS node FROM symn)),
rc0 AS MATERIALIZED (SELECT source, node FROM bf0)"""
    for k in range(1, BFS_ROUNDS + 1):
        hb_sql += f""",
bf{k} AS MATERIALIZED (
  SELECT c.source, c.node, {k} AS d, c.sigma FROM (
    SELECT f.source, s.u AS node, sum(f.sigma) AS sigma
    FROM symn s JOIN bf{k - 1} f ON f.node = s.v
    GROUP BY f.source, s.u
  ) c
  WHERE NOT EXISTS (SELECT 1 FROM rc{k - 1} r
                    WHERE r.source = c.source AND r.node = c.node)
),
rc{k} AS MATERIALIZED (
  SELECT source, node FROM rc{k - 1}
  UNION ALL SELECT source, node FROM bf{k}
)"""
    hb_sql += f""",
dl{BFS_ROUNDS} AS MATERIALIZED (
  SELECT source, node, sigma, 0.0 AS delta FROM bf{BFS_ROUNDS})"""
    for k in range(BFS_ROUNDS - 1, 0, -1):
        hb_sql += f""",
ct{k} AS (
  SELECT c.source, c.node,
         sum(c.sigma / n.sigma * (1 + n.delta)) AS delta
  FROM bf{k} c
  JOIN symn s ON s.u = c.node
  JOIN dl{k + 1} n ON n.source = c.source AND n.node = s.v
  GROUP BY c.source, c.node
),
dl{k} AS MATERIALIZED (
  SELECT c.source, c.node, c.sigma, coalesce(t.delta, 0) AS delta
  FROM bf{k} c LEFT JOIN ct{k} t
    ON t.source = c.source AND t.node = c.node
)"""
    hb_sql += (
        """
SELECT node, round(sum(delta) / 2, 6) AS betweenness FROM ("""
        + " UNION ALL ".join(
            f"SELECT node, delta FROM dl{k}"
            for k in range(1, BFS_ROUNDS + 1)
        )
        + """) GROUP BY node
"""
    )
    # BFS from the smallest node, rounds unrolled — per round the
    # distance vector unions with neighbor distances + 1 and takes the
    # per-node min (monotone ⇒ fixed rounds past the diameter no-op)
    bfs_sql = kc_base + """,
symn AS (SELECT a AS u, b AS v FROM c0 UNION ALL SELECT b, a FROM c0),
bd0 AS MATERIALIZED (SELECT (SELECT min(u) FROM symn) AS node, 0 AS d)"""
    for i in range(BFS_ROUNDS):
        bfs_sql += f""",
bd{i + 1} AS MATERIALIZED (
  SELECT node, min(d) AS d FROM (
    SELECT node, d FROM bd{i}
    UNION ALL
    SELECT s.u, bd{i}.d + 1 FROM symn s JOIN bd{i} ON bd{i}.node = s.v
  ) GROUP BY node
)"""
    bfs_sql += f"""
SELECT node, d::BIGINT AS distance FROM bd{BFS_ROUNDS}
"""
    # weighted min-plus rounds on the same sparsified graph; edge cost
    # 1/weight, per-round candidate set identical to the Spark loop
    wd_sql = kc_base + """,
egw AS (
  SELECT least(t1, t2) AS a, greatest(t1, t2) AS b,
         1.0 / count(*) AS c
  FROM pairs WHERE t1 <> t2
  GROUP BY least(t1, t2), greatest(t1, t2)
),
cw AS (SELECT e.a, e.b, e.c FROM egw e JOIN c0 ON c0.a = e.a AND c0.b = e.b),
symw AS (SELECT a AS u, b AS v, c FROM cw UNION ALL SELECT b, a, c FROM cw),
wd0 AS MATERIALIZED (
  SELECT (SELECT min(u) FROM symw) AS node, 0.0 AS d)"""
    for i in range(WDIST_ROUNDS):
        wd_sql += f""",
wd{i + 1} AS MATERIALIZED (
  SELECT node, min(d) AS d FROM (
    SELECT node, d FROM wd{i}
    UNION ALL
    SELECT s.u, wd{i}.d + s.c FROM symw s JOIN wd{i} ON wd{i}.node = s.v
  ) GROUP BY node
)"""
    wd_sql += f"""
SELECT node, round(d, 6) AS distance FROM wd{WDIST_ROUNDS}
"""
    # subquery + BIND: the per-predicate aggregate as a plain SQL
    # subquery joined back on p, the BIND as a projection expression
    _sub_vals = " UNION SELECT ".join(
        f"'{s}', '{p}', '{o}'" for s, p, o in KG_SUB_EXTRA
    )
    kgsub_sql = rel_ctes + f""",
g AS (
  SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re
  UNION SELECT {_sub_vals}
),
pc AS (
  SELECT p, count(*)::BIGINT AS n FROM g
  GROUP BY p HAVING count(*) >= {KG_SUB_MIN}
)
SELECT g.s AS a, g.p AS p, g.o AS b, pc.n AS n,
       g.s || '#' || g.p AS key
FROM g JOIN pc ON pc.p = g.p
"""
    # coreferee variant: chunk index = tok_idx // C; an occurrence is
    # POISON when the scorer would emit the non-contiguous [i, i+2]
    # (next token 'the' AND i+2 inside the same chunk — i+2 <
    # min(chunk_end, n) implies the 'the' is in-chunk too); a poisoned
    # (doc, chunk, surface) chain is discarded WHOLE; chain ids follow
    # the enumeration order (chunk, then sorted surface)
    _cc = COREFEREE_CHUNK
    corefee_sql = _BASE_CTES + f""",
nt AS (SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id),
cf AS (
  SELECT t.doc_id, t.tok_idx, t.token,
         (t.tok_idx // {_cc}) AS chunk_i,
         lead(t.token) OVER (PARTITION BY t.doc_id ORDER BY t.tok_idx)
           AS nxt
  FROM toks t
),
cm AS (
  SELECT cf.doc_id, cf.chunk_i, cf.token, cf.tok_idx,
         coalesce(cf.nxt = 'the'
            AND cf.tok_idx + 2 < least((cf.chunk_i + 1) * {_cc},
                                       nt.n_toks), FALSE) AS poison
  FROM cf JOIN nt ON nt.doc_id = cf.doc_id
  WHERE cf.token IN ({_CAST_SQL})
),
cch AS (
  SELECT doc_id, chunk_i, token
  FROM cm GROUP BY doc_id, chunk_i, token
  HAVING NOT bool_or(poison)
),
ccid AS (
  SELECT doc_id, chunk_i, token,
         dense_rank() OVER (PARTITION BY doc_id
                            ORDER BY chunk_i, token) - 1 AS chain_id
  FROM cch
)
SELECT cm.doc_id, ccid.chain_id::BIGINT AS chain_id,
       cm.tok_idx::BIGINT AS start_idx,
       (cm.tok_idx + 1)::BIGINT AS end_idx,
       cm.token AS mention_str
FROM cm
JOIN ccid ON ccid.doc_id = cm.doc_id AND ccid.chunk_i = cm.chunk_i
         AND ccid.token = cm.token
"""
    # SPARQL Update as SQL set algebra: kept = g minus the matched
    # scans slice, inst = both templates instantiated from the SAME
    # pre-update bindings, result = kept UNION inst (UNION dedups ==
    # the engine's anti-join set-semantics path)
    kgupd_sql = rel_ctes + """,
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re),
w AS (SELECT s AS a, o AS b FROM g WHERE p = 'scans'),
kept AS (SELECT * FROM g WHERE p <> 'scans'),
inst AS (
  SELECT a AS s, 'sorts' AS p, b AS o FROM w
  UNION
  SELECT b, 'was_scanned_by', a FROM w
)
SELECT s, p, o FROM kept UNION SELECT s, p, o FROM inst
"""
    # TransE hash-mode scoring: the same md5 32-bit hash projection
    # per (namespace, name, dim), L1 energy, 2^-32 fixed-point —
    # dyadic-rational exact on both engines
    _emb = (
        "(('0x' || substr(md5('{ns}' || {e} || ':' || i.i), 1, 8))"
        "::BIGINT / 4294967296.0 - 0.5)"
    )

    def _transe_fp(s_expr: str, p_expr: str, o_expr: str) -> str:
        return f"""(SELECT round(sum(abs(
      {_emb.format(ns='e:', e=s_expr)}
    + {_emb.format(ns='r:', e=p_expr)}
    - {_emb.format(ns='e:', e=o_expr)}
   )) * 4294967296.0)::BIGINT
   FROM range(0, {TRANSE_DIM}) AS i(i))"""

    transe_sql = rel_ctes + f""",
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re)
SELECT g.s, g.p, g.o,
  {_transe_fp('g.s', 'g.p', 'g.o')} AS score_fp
FROM g
"""
    # DistMult / ComplEx hash-mode scoring: same md5 projection; each
    # PRODUCT term is rounded to 2^-32 fixed-point before the (then
    # integer, order-immune) summation — see kgembed._fp. Parentheses
    # mirror the Spark expressions' left-assoc multiply order exactly.
    _emb_at = (
        "(('0x' || substr(md5('{ns}' || {e} || ':' || ({ix})), 1, 8))"
        "::BIGINT / 4294967296.0 - 0.5)"
    )

    def _dm_fp(s_expr: str, p_expr: str, o_expr: str) -> str:
        return f"""(SELECT sum(round(
      {_emb_at.format(ns='e:', e=s_expr, ix='i.i')}
    * {_emb_at.format(ns='r:', e=p_expr, ix='i.i')}
    * {_emb_at.format(ns='e:', e=o_expr, ix='i.i')}
    * 4294967296.0)::BIGINT)::BIGINT
   FROM range(0, {TRANSE_DIM}) AS i(i))"""

    def _cx_fp(s_expr: str, p_expr: str, o_expr: str) -> str:
        hr = _emb_at.format(ns="e:", e=s_expr, ix="i.i")
        hi = _emb_at.format(ns="e:", e=s_expr, ix=f"i.i + {TRANSE_DIM // 2}")
        rr = _emb_at.format(ns="r:", e=p_expr, ix="i.i")
        ri = _emb_at.format(ns="r:", e=p_expr, ix=f"i.i + {TRANSE_DIM // 2}")
        tr = _emb_at.format(ns="e:", e=o_expr, ix="i.i")
        ti = _emb_at.format(ns="e:", e=o_expr, ix=f"i.i + {TRANSE_DIM // 2}")
        s = "4294967296.0"
        return f"""(SELECT sum(
      round({hr} * {rr} * {tr} * {s})::BIGINT
    + round({hi} * {rr} * {ti} * {s})::BIGINT
    + round({hr} * {ri} * {ti} * {s})::BIGINT
    - round({hi} * {ri} * {tr} * {s})::BIGINT
   )::BIGINT FROM range(0, {TRANSE_DIM // 2}) AS i(i))"""

    distmult_sql = rel_ctes + f""",
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re)
SELECT g.s, g.p, g.o,
  {_dm_fp('g.s', 'g.p', 'g.o')} AS score_fp
FROM g
"""
    complex_sql = rel_ctes + f""",
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re)
SELECT g.s, g.p, g.o,
  {_cx_fp('g.s', 'g.p', 'g.o')} AS score_fp
FROM g
"""
    # RRF fusion: per-predicate ranks from each family (TransE asc,
    # DistMult/ComplEx desc, (s, o) tie-break), fused as per-term
    # rounded 2^-32 reciprocal ranks — integer-exact like the scores
    rrf_sql = rel_ctes + f""",
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re),
sc AS (
  SELECT s, p, o,
    {_transe_fp('s', 'p', 'o')} AS ft,
    {_dm_fp('s', 'p', 'o')} AS fd,
    {_cx_fp('s', 'p', 'o')} AS fc
  FROM g
), rkf AS (
  SELECT s, p, o,
    row_number() OVER (PARTITION BY p ORDER BY ft, s, o)::BIGINT
      AS rank_transe,
    row_number() OVER (PARTITION BY p ORDER BY fd DESC, s, o)::BIGINT
      AS rank_distmult,
    row_number() OVER (PARTITION BY p ORDER BY fc DESC, s, o)::BIGINT
      AS rank_complex
  FROM sc
)
SELECT s, p, o, rank_transe, rank_distmult, rank_complex,
  (round(4294967296.0 / (60.0 + rank_transe))::BIGINT
   + round(4294967296.0 / (60.0 + rank_distmult))::BIGINT
   + round(4294967296.0 / (60.0 + rank_complex))::BIGINT) AS rrf_fp
FROM rkf
"""
    # link-prediction ranks: score every (s, p) x entity candidate,
    # rank with the (score_fp, obj) tie-break, join back the positives
    kgrank_sql = rel_ctes + f""",
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re),
voc AS (SELECT o AS cand FROM g UNION SELECT s FROM g),
pr AS (SELECT DISTINCT s, p FROM g),
sc AS (
  SELECT pr.s, pr.p, voc.cand AS o,
         {_transe_fp('pr.s', 'pr.p', 'voc.cand')} AS score_fp
  FROM pr, voc
),
lprk AS (
  SELECT s, p, o,
         row_number() OVER (PARTITION BY s, p
                            ORDER BY score_fp, o) AS rank,
         count(*) OVER (PARTITION BY s, p) AS n_cands
  FROM sc
)
SELECT g.s, g.p, g.o, lprk.rank::BIGINT AS rank,
       (lprk.rank - (row_number() OVER (PARTITION BY g.s, g.p
                                        ORDER BY lprk.rank) - 1))::BIGINT
         AS filtered_rank,
       lprk.n_cands::BIGINT AS n_cands
FROM g JOIN lprk ON lprk.s = g.s AND lprk.p = g.p AND lprk.o = g.o
"""
    # ANN-prefiltered ranks: candidate (s,p,cand) pairs are the ones
    # sharing >= 1 full sign-bit band between q = h + r and the
    # entity embedding t; survivors exactly scored and ranked. The
    # oracle states the band predicate as EXISTS-over-bands (the
    # Spark side materializes the same set via the band equi-join).
    def _emb_i(ns: str, e: str, i: int) -> str:
        # _emb with the component index inlined (the template's i.i
        # comes from a range() lateral, which DuckDB cannot correlate)
        return _emb.format(ns=ns, e=e).replace("i.i", str(i))

    def _band_eq(b: int) -> str:
        lo = b * ANN_BAND_BITS
        hi = min((b + 1) * ANN_BAND_BITS, TRANSE_DIM)
        bits = [
            f"((({_emb_i('e:', 'pr.s', i)})"
            f" + ({_emb_i('r:', 'pr.p', i)}) > 0)"
            f" = (({_emb_i('e:', 'voc.cand', i)}) > 0))"
            for i in range(lo, hi)
        ]
        return "(" + " AND ".join(bits) + ")"

    _n_bands = -(-TRANSE_DIM // ANN_BAND_BITS)
    _any_band = " OR ".join(_band_eq(b) for b in range(_n_bands))
    kgrann_sql = rel_ctes + f""",
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re),
voc AS (SELECT o AS cand FROM g UNION SELECT s FROM g),
pr AS (SELECT DISTINCT s, p FROM g),
cand AS (
  SELECT pr.s, pr.p, voc.cand
  FROM pr, voc
  WHERE {_any_band}
),
annsc AS (
  SELECT s, p, cand,
         {_transe_fp('cand.s', 'cand.p', 'cand.cand')} AS score_fp
  FROM cand
),
annrk AS (
  SELECT s, p, cand,
         row_number() OVER (PARTITION BY s, p
                            ORDER BY score_fp, cand) AS ann_rank
  FROM annsc
),
annnc AS (
  SELECT s, p, count(*)::BIGINT AS n_cands_ann FROM cand GROUP BY s, p
)
SELECT g.s, g.p, g.o,
       annrk.ann_rank::BIGINT AS ann_rank,
       coalesce(annnc.n_cands_ann, 0)::BIGINT AS n_cands_ann,
       (annrk.ann_rank IS NOT NULL) AS retrieved
FROM g
LEFT JOIN annrk ON annrk.s = g.s AND annrk.p = g.p AND annrk.cand = g.o
LEFT JOIN annnc ON annnc.s = g.s AND annnc.p = g.p
"""
    # ANN serving metrics: same CTE chain, final per-triple select
    # wrapped as a CTE and grouped per predicate (misses count as
    # rank-infinity failures — 0 contribution to MRR/hits)
    kgannm_sql = kgrann_sql.replace(
        """SELECT g.s, g.p, g.o,
       annrk.ann_rank::BIGINT AS ann_rank,
       coalesce(annnc.n_cands_ann, 0)::BIGINT AS n_cands_ann,
       (annrk.ann_rank IS NOT NULL) AS retrieved
FROM g
LEFT JOIN annrk ON annrk.s = g.s AND annrk.p = g.p AND annrk.cand = g.o
LEFT JOIN annnc ON annnc.s = g.s AND annnc.p = g.p""",
        """SELECT g.p, count(*)::BIGINT AS n_triples,
       round(avg(CASE WHEN annrk.ann_rank IS NOT NULL
                 THEN 1.0 ELSE 0.0 END), 6) AS recall_index,
       round(avg(CASE WHEN annrk.ann_rank IS NOT NULL
                 THEN 1.0 / annrk.ann_rank ELSE 0.0 END), 6) AS mrr_ann,
       round(avg(CASE WHEN annrk.ann_rank <= 1
                 THEN 1.0 ELSE 0.0 END), 6) AS hits1_ann,
       round(avg(CASE WHEN annrk.ann_rank <= 3
                 THEN 1.0 ELSE 0.0 END), 6) AS hits3_ann
FROM g
LEFT JOIN annrk ON annrk.s = g.s AND annrk.p = g.p AND annrk.cand = g.o
GROUP BY g.p""",
    )
    assert "GROUP BY g.p" in kgannm_sql
    _kg_vals_rows = ", ".join(
        f"('{r}', '{a}')" for r, a in KG_VALUES_BLOCK[1]
    )
    kgvalues_sql = rel_ctes + f""",
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re)
SELECT s AS a, p AS r, o AS b FROM g
WHERE (p, s) IN ({_kg_vals_rows})
"""
    kgagg_sql = rel_ctes + """,
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re)
SELECT p AS r, count(*)::BIGINT AS n,
       sum(length(o))::BIGINT AS sum_len,
       round(avg(length(o)), 6) AS avg_len,
       min(o) AS min_b, max(o) AS max_b
FROM g GROUP BY p HAVING count(*) >= 1
"""
    _schema_rows = ", ".join(
        f"('{s}', '{p}', '{o}')" for s, p, o in RDFS_SCHEMA
    )
    kgservice_sql = rel_ctes + f""",
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re),
sch(ss, sp, so) AS (VALUES {_schema_rows})
SELECT g.s AS a, g.p AS r, g.o AS b, sch.so AS sup
FROM g JOIN sch ON sch.ss = g.p AND sch.sp = 'subPropertyOf'
"""
    out = {
        "char_kcore": kc_sql,
        "char_corenums": cn_sql,
        "char_bfs": bfs_sql,
        "char_harmonic": hc_sql,
        "char_betweenness": hb_sql,
        "pack_ids": f"""
WITH d AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{_SQL_TOKEN_RE}'))::BIGINT
           AS n_tokens,
         substr(md5(doc_id::VARCHAR), 1, 8) AS h
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS stream_pos
  FROM d
)
SELECT doc_id, n_tokens, stream_pos,
       (stream_pos // {PACK_LEN})::BIGINT AS pack_id,
       (stream_pos % {PACK_LEN})::BIGINT AS pack_pos
FROM c
""",
        "boilerplate": """
WITH aug AS (
  SELECT doc_id, text || chr(10) || 'shared footer alpha beta' ||
         CASE WHEN doc_id % 2 = 0
              THEN chr(10) || 'even docs footer' ELSE '' END AS t
  FROM documents
), p0 AS (
  SELECT doc_id, u.piece, u.i
  FROM (SELECT doc_id, string_split(t, chr(10)) AS ps FROM aug),
       LATERAL (SELECT unnest(ps) AS piece,
                       generate_subscripts(ps, 1) AS i) u
  WHERE trim(piece) <> ''
), boiler AS (
  SELECT piece FROM p0 GROUP BY piece HAVING count(DISTINCT doc_id) >= 2
)
SELECT doc_id,
       md5(string_agg(piece, ' ' ORDER BY i)
           FILTER (piece NOT IN (SELECT piece FROM boiler))) AS clean_fp,
       count(*) FILTER (piece NOT IN (SELECT piece FROM boiler))::BIGINT
         AS n_kept,
       count(*) FILTER (piece IN (SELECT piece FROM boiler))::BIGINT
         AS n_removed
FROM p0 GROUP BY doc_id
""",
        "mixture_stats": f"""
WITH per AS (
  SELECT source AS grp, count(*)::BIGINT AS n_docs,
         sum(len(regexp_extract_all(text, '{_SQL_TOKEN_RE}')))::BIGINT
           AS n_tokens
  FROM documents GROUP BY source
), tot AS (SELECT sum(n_docs) AS td, sum(n_tokens) AS tt FROM per)
SELECT grp, n_docs, n_tokens,
       round(n_docs::DOUBLE / tot.td, 6) AS doc_share,
       round(n_tokens::DOUBLE / tot.tt, 6) AS token_share
FROM per, tot
""",
        "length_band": """
WITH q AS (
  SELECT quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents
)
SELECT doc_id, n_chars FROM documents, q
WHERE n_chars >= lo AND n_chars <= hi
""",
        "char_wdist": wd_sql,
        "contamination": """
WITH all_docs AS (
  SELECT source, text FROM documents
  UNION ALL
  SELECT 'benchmark', text FROM documents WHERE doc_id % 10 = 0
), fp AS (SELECT DISTINCT source AS grp, md5(text) AS fp FROM all_docs)
SELECT a.grp AS grp_a, b.grp AS grp_b,
       count(DISTINCT a.fp)::BIGINT AS n_shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.grp < b.grp
GROUP BY a.grp, b.grp
""",
        "ngram_overlap": f"""
WITH tr AS (
  SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tk
  FROM documents WHERE doc_id % 10 <> 0
), be AS (
  SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tk
  FROM documents WHERE doc_id % 10 = 0
), trs0 AS (
  SELECT doc_id, CASE WHEN len(tk) >= {NGRAM_W}
    THEN list_transform(range(1, len(tk) - {NGRAM_W - 2}),
         i -> array_to_string(list_slice(tk, i, i + {NGRAM_W - 1}), ' '))
    ELSE [array_to_string(tk, ' ')] END AS shs FROM tr
), bes0 AS (
  SELECT doc_id, CASE WHEN len(tk) >= {NGRAM_W}
    THEN list_transform(range(1, len(tk) - {NGRAM_W - 2}),
         i -> array_to_string(list_slice(tk, i, i + {NGRAM_W - 1}), ' '))
    ELSE [array_to_string(tk, ' ')] END AS shs FROM be
), trs AS (SELECT DISTINCT doc_id, unnest(shs) AS shingle FROM trs0),
bset AS (SELECT DISTINCT unnest(shs) AS shingle FROM bes0),
tot AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM trs GROUP BY doc_id),
hit AS (
  SELECT t.doc_id, count(*)::BIGINT AS n_shared
  FROM trs t JOIN bset b ON b.shingle = t.shingle GROUP BY t.doc_id
)
SELECT tot.doc_id, tot.n_shingles, coalesce(hit.n_shared, 0) AS n_shared,
       round(coalesce(hit.n_shared, 0)::DOUBLE
             / greatest(tot.n_shingles, 1), 6) AS frac
FROM tot LEFT JOIN hit ON hit.doc_id = tot.doc_id
""",
        "span_tokens": _BASE_CTES
        + "SELECT doc_id, tok_idx::BIGINT AS tok_idx, token FROM toks\n",
        "char_pmi": edges_ctes + """,
eg AS (
  SELECT least(t1, t2) AS a, greatest(t1, t2) AS b,
         count(*)::DOUBLE AS w
  FROM pairs WHERE t1 <> t2
  GROUP BY least(t1, t2), greatest(t1, t2)
),
tot AS (SELECT sum(w) AS t FROM eg),
st AS (
  SELECT node, sum(w) AS s FROM (
    SELECT a AS node, w FROM eg UNION ALL SELECT b, w FROM eg
  ) GROUP BY node
)
SELECT e.a AS src, e.b AS dst, e.w::BIGINT AS weight,
       round(greatest(ln((e.w / tot.t) /
             ((sa.s / (2 * tot.t)) * (sb.s / (2 * tot.t)))), 0), 6) AS pmi
FROM eg e
CROSS JOIN tot
JOIN st sa ON sa.node = e.a
JOIN st sb ON sb.node = e.b
""",
        "doc_sample": f"""
SELECT doc_id, length(text)::BIGINT AS n_chars FROM documents
WHERE substr(md5(doc_id::VARCHAR), 1, 8) < '{_sample_bound()}'
""",
        "hash_split": f"""
SELECT doc_id,
       CASE WHEN substr(md5('{SPLIT_SALT}' || doc_id::VARCHAR), 1, 8)
                 < '{_split_bound(0.8)}' THEN 'train'
            WHEN substr(md5('{SPLIT_SALT}' || doc_id::VARCHAR), 1, 8)
                 < '{_split_bound(0.9)}' THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
        "lang_quota": """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY substr(md5(doc_id::VARCHAR), 1, 8), doc_id
         ) AS r
  FROM documents
) WHERE r <= """ + str(QUOTA_N) + "\n",
        "char_communities": lpa_sql,
        "char_louvain": louvain_sql,
        "char_modularity": mod_sql,
        "char_assort": as_sql,
        "char_degrees": edges_ctes + """,
e0 AS (
  SELECT doc_id, least(t1, t2) AS src, greatest(t1, t2) AS dst,
         count(*)::DOUBLE AS w
  FROM pairs WHERE t1 <> t2
  GROUP BY doc_id, least(t1, t2), greatest(t1, t2)
),
sym AS (SELECT doc_id, src AS node, w FROM e0
        UNION ALL SELECT doc_id, dst, w FROM e0)
SELECT doc_id, node, count(*)::BIGINT AS degree,
       sum(w)::DOUBLE AS strength
FROM sym GROUP BY doc_id, node
        """,
        "char_pagerank": pr_sql,
        "char_walks": walks_sql,
        "char_walk_pairs": walk_pairs_sql,
        "char_n2v_walks": n2v_sql,
        "char_linkpred": lp_sql,
        "char_hits": hits_sql,
        "char_katz": katz_sql,
        "char_ecc": ecc_sql,
        "char_mst": mst_sql,
        "char_wl": wl_sql,
        "char_curvature": cur_sql,
        "char_richclub": rc_sql,
        "graph_fingerprints": gfp_sql,
        "dsir_weights": dsir_sql,
        "blocking_quality": bq_sql,
        "char_ktruss": kt_sql,
        "char_quotient": quot_sql,
        "type_closure": tc_sql,
        "rel_scc": scc_sql,
        "bgp_match": bgp_sql,
        "bgp_optional": bgpopt_sql,
        "bgp_paths": bgppath_sql,
        "rdfs_types": rdfs_sql,
        "char_mis": mis_sql,
        "sorted_blocking": snb_sql,
        "kg_construct": kgc_sql,
        "doc_keywords": trk_sql,
        "char_paths": pth_sql,
        "kg_ask": ask_sql,
        "kg_describe": desc_sql,
        "kg_path_algebra": palg_sql,
        "kg_exists": kgex_sql,
        "kg_graph_bgp": gbgp_sql,
        "kg_graph_paths": gpth_sql,
        "kg_void": void_sql,
        "temporal_reach": trch_sql,
        "kg_subselect": kgsub_sql,
        "coreferee_chains": corefee_sql,
        "kg_update": kgupd_sql,
        # the stream-stream interval join's batch twin: same slices,
        # same time-range predicate, delay in exact integer micros
        "stream_joins": f"""
WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
           FROM events WHERE event_type = 'view'),
c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click')
SELECT v.user_id, v.view_id, c.click_id,
       (epoch_us(c.click_ts) - epoch_us(v.view_ts))::BIGINT AS delay_us
FROM v JOIN c ON c.user_id = v.user_id
 AND c.click_ts >= v.view_ts
 AND c.click_ts <= v.view_ts + INTERVAL {STREAM_JOIN_BOUND_H} HOUR
""",
        "transe_scores": transe_sql,
        "distmult_scores": distmult_sql,
        "complex_scores": complex_sql,
        "kg_rank_fusion": rrf_sql,
        "paragraph_dedup": """
WITH aug AS (
  SELECT doc_id, text || chr(10) || 'shared footer alpha beta' ||
         CASE WHEN doc_id % 2 = 0
              THEN chr(10) || 'even docs footer' ELSE '' END AS t
  FROM documents
), p0 AS (
  SELECT doc_id, u.piece, u.i
  FROM (SELECT doc_id, string_split(t, chr(10)) AS ps FROM aug),
       LATERAL (SELECT unnest(ps) AS piece,
                       generate_subscripts(ps, 1) AS i) u
  WHERE trim(piece) <> ''
), fl AS (
  SELECT doc_id, piece, i,
         row_number() OVER (PARTITION BY piece ORDER BY doc_id, i) AS rn
  FROM p0
)
SELECT doc_id,
       md5(coalesce(string_agg(piece, ' ' ORDER BY i) FILTER (rn = 1),
                    '')) AS clean_fp,
       count(*) FILTER (rn = 1)::BIGINT AS n_kept,
       count(*) FILTER (rn > 1)::BIGINT AS n_dropped
FROM fl GROUP BY doc_id
""",
        "kg_ranks": kgrank_sql,
        "kg_ranks_ann": kgrann_sql,
        "kg_ann_metrics": kgannm_sql,
        "kg_values": kgvalues_sql,
        "kg_agg": kgagg_sql,
        "kg_service": kgservice_sql,
        # the same rank table rolled up: MRR + hits@k per predicate
        "kg_lp_metrics": kgrank_sql.replace(
            """SELECT g.s, g.p, g.o, lprk.rank::BIGINT AS rank,
       (lprk.rank - (row_number() OVER (PARTITION BY g.s, g.p
                                        ORDER BY lprk.rank) - 1))::BIGINT
         AS filtered_rank,
       lprk.n_cands::BIGINT AS n_cands
FROM g JOIN lprk ON lprk.s = g.s AND lprk.p = g.p AND lprk.o = g.o""",
            """SELECT g.p, count(*)::BIGINT AS n_triples,
       round(avg(1.0 / lprk.rank), 6) AS mrr,
       round(avg(CASE WHEN lprk.rank <= 1 THEN 1.0 ELSE 0.0 END), 6)
         AS hits1,
       round(avg(CASE WHEN lprk.rank <= 3 THEN 1.0 ELSE 0.0 END), 6)
         AS hits3
FROM g JOIN lprk ON lprk.s = g.s AND lprk.p = g.p AND lprk.o = g.o
GROUP BY g.p""",
        ),
        "nt_roundtrip": nt_rt_sql,
        "owl_types": owl_sql,
        "kg_union": kgu_sql,
        "kg_minus": kgm_sql,
        "char_anf": anf_sql,
        "char_coloring": jp_sql,
        "char_conductance": cond_sql,
        "fs_links": fs_sql,
        "zorder_keys": zorder_sql,
        # same cents/assign head as _ORACLE_IVF (nprobe=1 cells), then
        # the within-cell a>b pair join + min-id dup_of — mirrors
        # functions/similarity.semantic_dedup
        "semantic_dedup": f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
           AS centroid_id
  FROM embeddings
  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {IVF_CENTROIDS}
), n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS nrm
  FROM embeddings
), cn AS (
  SELECT centroid_id, cvec,
         sqrt(list_sum(list_transform(cvec, x -> x::DOUBLE * x::DOUBLE)))
           AS cnrm
  FROM cents
), scored AS (
  SELECT v.vec_id, c.centroid_id,
         list_sum(list_transform(list_zip(v.embedding, c.cvec),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (v.nrm * c.cnrm)
           AS cos_c
  FROM n v CROSS JOIN cn c
), assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos_c DESC, centroid_id ASC) AS pr
    FROM scored) WHERE pr = 1
), dup AS (
  SELECT a.vec_id AS vec_id, min(b.vec_id) AS dup_of
  FROM assign a
  JOIN assign b ON a.centroid_id = b.centroid_id AND a.vec_id > b.vec_id
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
  WHERE list_sum(list_transform(list_zip(na.embedding, nb.embedding),
                 x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (na.nrm * nb.nrm)
        >= {SEMDEDUP_THRESHOLD}
  GROUP BY a.vec_id
)
SELECT e.vec_id,
       (CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END)::INT AS keep,
       coalesce(d.dup_of, e.vec_id) AS canon
FROM embeddings e LEFT JOIN dup d ON d.vec_id = e.vec_id
""",
        # e0 (global canonical edges) reused from the pagerank CTE head:
        # wedge join + closure, then per-node counts — same shape as
        # functions/graph.py triangles
        "char_triangles": edges_ctes + """,
eg AS (
  SELECT least(t1, t2) AS a, greatest(t1, t2) AS b,
         count(*) AS wt
  FROM pairs WHERE t1 <> t2
  GROUP BY least(t1, t2), greatest(t1, t2)
),
e0 AS (
  SELECT a, b FROM eg WHERE wt >= (SELECT avg(wt) FROM eg)
),
w AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e0 e1 JOIN e0 e2 ON e1.a = e2.a AND e1.b < e2.b
),
t AS (SELECT w.a, w.b, w.c FROM w JOIN e0 ON e0.a = w.b AND e0.b = w.c),
pn AS (
  SELECT node, count(*) AS nt FROM (
    SELECT a AS node FROM t
    UNION ALL SELECT b FROM t
    UNION ALL SELECT c FROM t
  ) GROUP BY node
),
dg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
  ) GROUP BY node
)
SELECT dg.node, d::BIGINT AS degree,
       coalesce(pn.nt, 0)::BIGINT AS n_triangles,
       round(CASE WHEN d >= 2
             THEN 2.0 * coalesce(pn.nt, 0) / (d * (d - 1))
             ELSE 0.0 END, 6) AS clustering
FROM dg LEFT JOIN pn ON pn.node = dg.node
        """,
        # span lengths 1..MAX_SPAN_LEN, valid only while L < doc token
        # count (the reference's range(1, min(len, max+1)) quirk)
        "span_candidates": _BASE_CTES + """,
cnt AS (SELECT doc_id, count(*) AS c FROM toks GROUP BY doc_id),
w AS (
  SELECT t.doc_id, t.tok_idx, t.token,
         lead(t.token, 1) OVER (PARTITION BY t.doc_id
                                ORDER BY t.tok_idx) AS nxt,
         cnt.c
  FROM toks t JOIN cnt ON cnt.doc_id = t.doc_id
)
SELECT doc_id, tok_idx::BIGINT AS start_idx, tok_idx::BIGINT AS end_idx,
       token AS span_text
FROM w WHERE 1 < c
UNION ALL
SELECT doc_id, tok_idx::BIGINT, (tok_idx + 1)::BIGINT,
       token || ' ' || nxt
FROM w WHERE nxt IS NOT NULL AND 2 < c
        """,
        "repetition_stats": _BASE_CTES + """,
g AS (
  SELECT t1.doc_id, t1.token || ' ' || t2.token AS gram
  FROM toks t1
  JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.tok_idx = t1.tok_idx + 1
),
c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram)
SELECT doc_id, sum(c)::BIGINT AS n_grams,
       round(max(c)::DOUBLE / sum(c), 6) AS top_gram_frac,
       round(coalesce(sum(c) FILTER (WHERE c > 1), 0)::DOUBLE / sum(c), 6)
         AS dup_gram_frac
FROM c GROUP BY doc_id
        """,
        "pii_scrub": """
            WITH p0 AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id::VARCHAR
                       || '@mail.example via https://site-'
                       || doc_id::VARCHAR
                       || '.example/path?q=1 or 10.0.'
                       || (doc_id % 256)::VARCHAR || '.'
                       || ((doc_id // 256) % 256)::VARCHAR
                       || ' call +1 555 010 '
                       || (1000 + doc_id % 9000)::VARCHAR AS t
              FROM documents
            ), p1 AS (
              SELECT doc_id,
                     len(regexp_extract_all(t, 'https?://[^\\s]+'))
                       AS n_url,
                     regexp_replace(t, 'https?://[^\\s]+', '<URL>', 'g')
                       AS t
              FROM p0
            ), p2 AS (
              SELECT doc_id, n_url,
                     len(regexp_extract_all(
                       t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'
                     )) AS n_email,
                     regexp_replace(
                       t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t
              FROM p1
            ), p3 AS (
              SELECT doc_id, n_url, n_email,
                     len(regexp_extract_all(
                       t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'
                     )) AS n_ip,
                     regexp_replace(
                       t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                       '<IP>', 'g') AS t
              FROM p2
            ), p4 AS (
              SELECT doc_id, n_url, n_email, n_ip,
                     len(regexp_extract_all(t, '\\+\\d[\\d() .-]{7,}\\d'))
                       AS n_phone,
                     regexp_replace(t, '\\+\\d[\\d() .-]{7,}\\d',
                                    '<PHONE>', 'g') AS t
              FROM p3
            )
            SELECT doc_id, md5(t) AS scrubbed_fp,
                   n_url::BIGINT AS n_url, n_email::BIGINT AS n_email,
                   n_ip::BIGINT AS n_ip, n_phone::BIGINT AS n_phone
            FROM p4
        """,
        "token_counts": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '{_SQL_TOKEN_RE}'))::BIGINT AS n_tokens
            FROM documents
        """,
        "naive_characters": _BASE_CTES
        + """
            SELECT doc_id, token AS char_id, count(*)::BIGINT AS mention_count
            FROM m GROUP BY doc_id, token
        """,
        "graph_characters": _BASE_CTES
        + """
            SELECT doc_id, token AS char_id, count(*)::BIGINT AS mention_count
            FROM m GROUP BY doc_id, token
        """,
        "scale_characters": _BASE_CTES
        + """
            SELECT doc_id, token AS char_id, count(*)::BIGINT AS mention_count
            FROM m GROUP BY doc_id, token
        """,
        "cooccur_edges": edges_ctes
        + """
            SELECT doc_id, least(t1, t2) AS src, greatest(t1, t2) AS dst,
                   count(*)::BIGINT AS weight
            FROM pairs WHERE t1 <> t2
            GROUP BY doc_id, least(t1, t2), greatest(t1, t2)
        """,
        "triples": edges_ctes
        + """
            SELECT doc_id, least(t1, t2) AS subj,
                   'interacts_with' AS pred,
                   greatest(t1, t2) AS obj,
                   count(*)::BIGINT AS weight
            FROM pairs WHERE t1 <> t2
            GROUP BY doc_id, least(t1, t2), greatest(t1, t2)
        """,
        "kg_negatives": edges_ctes
        + f""",
trip AS (
  SELECT DISTINCT least(t1, t2) AS subj, 'interacts_with' AS pred,
         greatest(t1, t2) AS obj
  FROM pairs WHERE t1 <> t2
), ents AS (
  SELECT subj AS entity FROM trip UNION SELECT obj FROM trip
), eidx AS (
  SELECT entity, row_number() OVER (ORDER BY entity) - 1 AS idx
  FROM ents
), cand AS (
  SELECT t.subj, t.pred, t.obj, i.i AS neg_i,
         ('0x' || substr(md5('neg:' || i.i::VARCHAR || '|' || t.subj
                          || '|' || t.pred || '|' || t.obj), 1, 8))::BIGINT
           % (SELECT count(*) FROM ents) AS slot
  FROM trip t, (SELECT unnest(range({KG_NEG_K})) AS i) i
)
SELECT c.subj, c.pred, c.obj, c.neg_i::BIGINT AS neg_i,
       e.entity AS neg_obj
FROM cand c JOIN eidx e ON e.idx = c.slot
WHERE e.entity <> c.subj
  AND NOT EXISTS (SELECT 1 FROM trip p
                  WHERE p.subj = c.subj AND p.pred = c.pred
                    AND p.obj = e.entity)
        """,
        "alias_priors": _BASE_CTES + ", " + _LINK_CTES + """,
pa AS (
  SELECT lower(surface) AS alias,
         CASE WHEN entity_id = 'NIL' THEN NULL ELSE entity_id END
           AS entity_id,
         count(*)::BIGINT AS n
  FROM linked GROUP BY 1, 2
), pt AS (
  SELECT alias,
         sum(CASE WHEN entity_id IS NOT NULL THEN n ELSE 0 END)::BIGINT
           AS n_linked,
         sum(CASE WHEN entity_id IS NULL THEN n ELSE 0 END)::BIGINT
           AS n_nil
  FROM pa GROUP BY alias
)
SELECT pa.alias, pa.entity_id, pa.n,
       round(pa.n * 1.0 / pt.n_linked, 6) AS prior, pt.n_nil
FROM pa JOIN pt ON pt.alias = pa.alias
WHERE pa.entity_id IS NOT NULL
        """,
        "graph_diff": "WITH verbs(verb, rel) AS (VALUES "
        + ", ".join(f"('{v}', '{r}')" for v, r in REL_VERBS.items())
        + "),"
        + ",".join(
            f"""
t{tag} AS (
  SELECT doc_id, u.tok AS token, u.i - 1 AS tok_idx
  FROM (SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
        FROM documents
        WHERE source IN ({", ".join(f"'{s}'" for s in srcs)})),
       LATERAL (SELECT unnest(tl) AS tok,
                       generate_subscripts(tl, 1) AS i) u
),
m{tag} AS (SELECT doc_id, tok_idx, token FROM t{tag}
           WHERE token IN ({_CAST_SQL})),
rk{tag} AS (SELECT doc_id, tok_idx, token,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY tok_idx) AS r
            FROM m{tag}),
adj{tag} AS (
  SELECT a.doc_id, a.tok_idx AS ai, a.token AS subj,
         b.tok_idx AS bi, b.token AS obj
  FROM rk{tag} a JOIN rk{tag} b
    ON a.doc_id = b.doc_id AND b.r = a.r + 1
),
vt{tag} AS (
  SELECT t.doc_id, t.tok_idx, v.rel
  FROM t{tag} t JOIN verbs v ON lower(t.token) = v.verb
),
hits{tag} AS (
  SELECT adj.doc_id, adj.subj, adj.obj, vt.rel,
         row_number() OVER (PARTITION BY adj.doc_id, adj.ai
                            ORDER BY vt.tok_idx) AS rn
  FROM adj{tag} adj JOIN vt{tag} vt ON vt.doc_id = adj.doc_id
    AND vt.tok_idx >= adj.ai + 1 AND vt.tok_idx < adj.bi
),
rel{tag} AS (
  SELECT doc_id, subj, rel, obj, count(*)::BIGINT AS n
  FROM hits{tag} WHERE rn = 1 AND subj <> obj
  GROUP BY doc_id, subj, rel, obj
  HAVING count(*) >= {REL_MIN_OCC}
),
e{tag} AS (SELECT subj, rel, obj, sum(n)::BIGINT AS w
           FROM rel{tag} GROUP BY subj, rel, obj)"""
            for tag, srcs in (
                ("a", DIFF_OLD_SOURCES),
                ("b", DIFF_NEW_SOURCES),
            )
        )
        + """
            SELECT coalesce(a.subj, b.subj) AS subj_char,
                   coalesce(a.rel, b.rel) AS rel,
                   coalesce(a.obj, b.obj) AS obj_char,
                   coalesce(a.w, 0)::BIGINT AS w_old,
                   coalesce(b.w, 0)::BIGINT AS w_new,
                   CASE WHEN a.w IS NULL THEN 'added'
                        WHEN b.w IS NULL THEN 'removed'
                        WHEN a.w = b.w THEN 'same'
                        ELSE 'changed' END AS status
            FROM ea a FULL OUTER JOIN eb b
              ON a.subj = b.subj AND a.rel = b.rel AND a.obj = b.obj
        """,
        # the streaming run must reproduce the batch result exactly
        # (every stage is doc-local), so it shares the triples oracle
        "stream_triples": edges_ctes
        + """
            SELECT doc_id, least(t1, t2) AS subj,
                   'interacts_with' AS pred,
                   greatest(t1, t2) AS obj,
                   count(*)::BIGINT AS weight
            FROM pairs WHERE t1 <> t2
            GROUP BY doc_id, least(t1, t2), greatest(t1, t2)
        """,
        "exact_dedup": """
            SELECT doc_id, md5(text) AS fp,
                   count(*) OVER (PARTITION BY md5(text))::BIGINT AS dup_group_size
            FROM documents
        """,
        "dynamic_edges": _BASE_CTES + _DYN_CTES + """
            SELECT doc_id, window_id, src, dst, weight FROM dyn_edges
        """,
        "cumulative_edges": _BASE_CTES + _DYN_CTES + """
            , snaps AS (SELECT DISTINCT doc_id, window_id FROM dyn_edges),
            eids AS (SELECT DISTINCT doc_id, src, dst FROM dyn_edges),
            dense AS (
              SELECT e.doc_id, e.src, e.dst, s.window_id
              FROM eids e JOIN snaps s ON s.doc_id = e.doc_id
            ), fullw AS (
              SELECT d.doc_id, d.window_id, d.src, d.dst,
                     coalesce(ed.weight, 0) AS w
              FROM dense d LEFT JOIN dyn_edges ed
                ON ed.doc_id = d.doc_id AND ed.window_id = d.window_id
               AND ed.src = d.src AND ed.dst = d.dst
            ), cum AS (
              SELECT doc_id, window_id, src, dst,
                     sum(w) OVER (PARTITION BY doc_id, src, dst
                                  ORDER BY window_id
                                  ROWS UNBOUNDED PRECEDING) AS cw
              FROM fullw
            )
            SELECT doc_id, window_id, src, dst, cw::BIGINT AS weight
            FROM cum WHERE cw > 0
        """,
        "edge_spans": _BASE_CTES + _DYN_CTES + """
            , espan AS (
              SELECT doc_id, src, dst, window_id, weight,
                     row_number() OVER (PARTITION BY doc_id, src, dst
                                        ORDER BY weight DESC,
                                                 window_id ASC) AS rn
              FROM dyn_edges
            )
            SELECT doc_id, src, dst,
                   min(window_id)::BIGINT AS first_w,
                   max(window_id)::BIGINT AS last_w,
                   count(*)::BIGINT AS n_windows,
                   min(CASE WHEN rn = 1 THEN window_id END)::BIGINT
                     AS peak_w
            FROM espan GROUP BY doc_id, src, dst
        """,
        "quality_scores": _ORACLE_QUALITY,
        "language_id": _ORACLE_LANGID,
        "language_id_multi": _oracle_langid_multi(),
        "fingerprints": r"""
            SELECT doc_id, md5(text) AS fp,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_fp
            FROM documents
        """,
        "minhash_bands": _MINHASH_CTES + """
            SELECT doc_id, band, band_key FROM bands
        """,
        "near_dup_pairs": _MINHASH_CTES + """
            , cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS i
              FROM cand c
              JOIN sh s1 ON s1.doc_id = c.doc_a
              JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
              GROUP BY c.doc_a, c.doc_b
            ),
            fullp AS (
              SELECT c.doc_a, c.doc_b,
                     coalesce(i.i, 0)::BIGINT AS inter,
                     (na.n + nb.n - coalesce(i.i, 0))::BIGINT AS union_
              FROM cand c
              LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
              JOIN sizes na ON na.doc_id = c.doc_a
              JOIN sizes nb ON nb.doc_id = c.doc_b
            )
            SELECT doc_a, doc_b, inter, union_,
                   round(inter::DOUBLE / greatest(union_, 1), 6) AS jaccard
            FROM fullp
            WHERE inter::DOUBLE / greatest(union_, 1) >= 0.2
        """,
        "ppjoin_pairs": f"""
            WITH t0 AS (
              SELECT doc_id,
                     regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tk
              FROM documents
            ), sh0 AS (
              SELECT doc_id, CASE WHEN len(tk) >= {PPJOIN_W}
                THEN list_transform(range(1, len(tk) - {PPJOIN_W} + 2),
                       i -> array_to_string(
                              list_slice(tk, i, i + {PPJOIN_W} - 1), ' '))
                ELSE [array_to_string(tk, ' ')] END AS shs
              FROM t0
            ), tk AS (
              SELECT DISTINCT doc_id, unnest(shs) AS token FROM sh0
            ), dfq AS (
              SELECT token, count(*)::BIGINT AS df FROM tk GROUP BY token
            ), sets AS (
              SELECT doc_id, count(*)::BIGINT AS s FROM tk GROUP BY doc_id
            ), rk AS (
              SELECT t.doc_id, t.token,
                     row_number() OVER (PARTITION BY t.doc_id
                                        ORDER BY d.df, t.token) AS r
              FROM tk t JOIN dfq d USING (token)
            ), pref AS (
              SELECT rk.doc_id, rk.token, s.s
              FROM rk JOIN sets s USING (doc_id)
              WHERE rk.r <= s.s - ceil({PPJOIN_T} * s.s) + 1
            ), cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                              a.s AS sa, b.s AS sb
              FROM pref a JOIN pref b
                ON a.token = b.token AND a.doc_id < b.doc_id
              WHERE least(a.s, b.s) >= {PPJOIN_T} * greatest(a.s, b.s)
            ), iv AS (
              SELECT c.doc_a, c.doc_b, c.sa, c.sb,
                     count(*)::BIGINT AS i
              FROM cand c
              JOIN tk ta ON ta.doc_id = c.doc_a
              JOIN tk tb ON tb.doc_id = c.doc_b
                        AND tb.token = ta.token
              GROUP BY 1, 2, 3, 4
            )
            SELECT doc_a, doc_b, i AS inter,
                   (sa + sb - i)::BIGINT AS union_,
                   i::DOUBLE / (sa + sb - i) AS jaccard
            FROM iv
            WHERE i::DOUBLE / (sa + sb - i) >= {PPJOIN_T}
        """,
        "shared_spans": f"""
            WITH tk AS (
              SELECT doc_id,
                     regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS toks
              FROM documents
            ), g AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(
                       list_slice(toks, i, i + {SHARED_SPAN_N} - 1), ' ')
                       AS gram
              FROM (
                SELECT doc_id, toks,
                       unnest(generate_series(
                         1, len(toks) - {SHARED_SPAN_N} + 1)) AS i
                FROM tk WHERE len(toks) >= {SHARED_SPAN_N}
              )
            ), df AS (
              SELECT gram
              FROM (SELECT DISTINCT doc_id, gram FROM g)
              GROUP BY gram HAVING count(*) >= 2
            ), dup AS (
              SELECT g.doc_id, g.pos FROM g JOIN df USING (gram)
            ), runs AS (
              SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id
                                              ORDER BY pos) AS grp
              FROM dup
            )
            SELECT doc_id, min(pos)::BIGINT AS start_tok,
                   (max(pos) + {SHARED_SPAN_N})::BIGINT AS end_tok,
                   (max(pos) + {SHARED_SPAN_N} - min(pos))::BIGINT AS n_toks
            FROM runs GROUP BY doc_id, grp
        """,
        "edit_near_dups": _MINHASH_CTES + f"""
            , cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
            )
            SELECT c.doc_a, c.doc_b,
                   levenshtein(da.text, db.text)::BIGINT AS dist,
                   round(levenshtein(da.text, db.text)::DOUBLE
                         / greatest(greatest(length(da.text),
                                             length(db.text)), 1),
                         6) AS ratio
            FROM cand c
            JOIN documents da ON da.doc_id = c.doc_a
            JOIN documents db ON db.doc_id = c.doc_b
            WHERE levenshtein(da.text, db.text) <= {EDIT_MAX_DIST}
        """,
        "simhash_groups": _ORACLE_SIMHASH,
        "winnow_dups": rf"""
            WITH f AS ({_ORACLE_WINNOW}),
            d AS (SELECT DISTINCT doc_id, fp FROM f),
            p AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*)::BIGINT AS shared_fps
              FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, shared_fps FROM p
            WHERE shared_fps >= {WINNOW_MIN_SHARED}
        """,
        "winnow_fps": _ORACLE_WINNOW,
        "hypocorism_characters": f"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, u.tok AS token, u.i - 1 AS tok_idx
              FROM (SELECT doc_id,
                           regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
                    FROM documents),
                   LATERAL (SELECT unnest(tl) AS tok,
                                   generate_subscripts(tl, 1) AS i) u
            ), hmap(token, name) AS (
              VALUES {", ".join(f"('{t}', '{n}')" for t, n in HYPO_MAP.items())}
            ), ment AS (
              SELECT t.doc_id, t.tok_idx, h.name
              FROM toks t JOIN hmap h ON h.token = t.token
            ), names AS (
              SELECT DISTINCT doc_id, name FROM ment
            ), fam(u, v) AS (
              VALUES {", ".join(f"('{a}', '{b}')" for a, b in HYPO_EDGES)}
            ), ed AS (
              SELECT a.doc_id, a.name AS u, b.name AS v
              FROM names a
              JOIN names b ON a.doc_id = b.doc_id
              JOIN fam ON (fam.u = a.name AND fam.v = b.name)
                       OR (fam.u = b.name AND fam.v = a.name)
            ), r(doc_id, u, l) AS (
              SELECT doc_id, name, name FROM names
              UNION
              SELECT ed.doc_id, ed.v, r.l
              FROM r JOIN ed ON ed.doc_id = r.doc_id AND ed.u = r.u
            ), comp AS (
              SELECT doc_id, u AS name, min(l) AS char_id
              FROM r GROUP BY doc_id, u
            ), nn AS (
              SELECT doc_id, char_id, count(*)::BIGINT AS n_names
              FROM comp GROUP BY doc_id, char_id
            )
            SELECT m.doc_id, c.char_id, nn.n_names,
                   count(*)::BIGINT AS mention_count
            FROM ment m
            JOIN comp c ON c.doc_id = m.doc_id AND c.name = m.name
            JOIN nn ON nn.doc_id = m.doc_id AND nn.char_id = c.char_id
            GROUP BY m.doc_id, c.char_id, nn.n_names
        """,
        "token_vocab": _BASE_CTES + """
            , firsts AS (
              SELECT token AS value,
                     min(doc_id * 1000000 + tok_idx) AS _first
              FROM toks GROUP BY token
            )
            SELECT value,
                   (row_number() OVER (ORDER BY _first, value)
                    - 1)::BIGINT AS vocab_id
            FROM firsts
        """,
        "pattern_matches": _BASE_CTES + f"""
            , nxt AS (
              SELECT doc_id, tok_idx, token,
                     lead(token) OVER (PARTITION BY doc_id
                                       ORDER BY tok_idx) AS t2
              FROM toks
            )
            SELECT doc_id, tok_idx::BIGINT AS pos
            FROM nxt
            WHERE token = '{PATTERN[0]}' AND t2 = '{PATTERN[1]}'
        """,
        "coref_characters": _BASE_CTES + """
            , dat AS (SELECT doc_id, tok_idx FROM toks WHERE token = 'data'),
            members AS (
              SELECT doc_id, 0 AS chain_id, tok_idx, token AS mention
              FROM m WHERE token = 'spark'
              UNION ALL
              SELECT doc_id, 0, tok_idx, 'data' FROM dat
              UNION ALL
              SELECT doc_id, 1, tok_idx, token
              FROM m WHERE token = 'customer'
              UNION ALL
              SELECT doc_id, 1, tok_idx, 'data' FROM dat
              UNION ALL
              SELECT doc_id, 2, tok_idx, token
              FROM m WHERE token IN ('spark', 'customer')
              UNION ALL
              SELECT doc_id, 2, tok_idx, 'data' FROM dat
            ), charids AS (
              SELECT DISTINCT doc_id, token AS char_id FROM m
            ), occ AS (
              SELECT mem.doc_id, mem.chain_id, c.char_id, count(*) AS occ
              FROM members mem
              JOIN charids c
                ON c.doc_id = mem.doc_id AND c.char_id = mem.mention
              GROUP BY 1, 2, 3
            ), win AS (
              SELECT doc_id, chain_id, char_id FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY doc_id, chain_id
                  ORDER BY occ DESC, char_id ASC) AS rn
                FROM occ) WHERE rn = 1
            ), assigned AS (
              SELECT mem.doc_id, w.char_id, mem.mention, mem.tok_idx
              FROM members mem
              JOIN win w ON w.doc_id = mem.doc_id
                        AND w.chain_id = mem.chain_id
            ), allrows AS (
              SELECT doc_id, token AS char_id, token AS mention, tok_idx
              FROM m
              UNION
              SELECT doc_id, char_id, mention, tok_idx FROM assigned
            )
            SELECT doc_id, char_id, count(*)::BIGINT AS mention_count
            FROM allrows GROUP BY doc_id, char_id
        """,
        "gendered_characters": f"""
            WITH toks AS (
              SELECT doc_id, u.tok AS token, u.i - 1 AS tok_idx
              FROM (SELECT doc_id,
                           regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
                    FROM documents),
                   LATERAL (SELECT unnest(tl) AS tok,
                                   generate_subscripts(tl, 1) AS i) u
            ), gmap(token, name, fam, is_bare) AS (
              VALUES {", ".join(
                  f"('{t}', '{n}', '{n.split()[-1]}', {str(' ' not in n).lower()})"
                  for t, n in GENDER_MAP.items())}
            ), ment AS (
              SELECT t.doc_id, t.tok_idx, g.name, g.fam, g.is_bare
              FROM toks t JOIN gmap g ON g.token = t.token
            ), nm AS (
              SELECT DISTINCT doc_id, fam, name, is_bare FROM ment
            ), pres AS (
              SELECT doc_id, fam, bool_or(is_bare) AS has_bare
              FROM nm GROUP BY doc_id, fam
            ), comp AS (
              SELECT n.doc_id, n.fam, n.name,
                     CASE WHEN p.has_bare
                          THEN min(n.name) OVER (PARTITION BY n.doc_id, n.fam)
                          ELSE n.name END AS char_id
              FROM nm n JOIN pres p
                ON p.doc_id = n.doc_id AND p.fam = n.fam
            ), nn AS (
              SELECT doc_id, char_id, count(*)::BIGINT AS n_names
              FROM comp GROUP BY doc_id, char_id
            )
            SELECT m.doc_id, c.char_id,
                   CASE WHEN c.char_id LIKE 'mr %' THEN 'MALE'
                        WHEN c.char_id LIKE 'mrs %' THEN 'FEMALE'
                        ELSE 'UNKNOWN' END AS gender,
                   nn.n_names, count(*)::BIGINT AS mention_count
            FROM ment m
            JOIN comp c ON c.doc_id = m.doc_id AND c.name = m.name
            JOIN nn ON nn.doc_id = m.doc_id AND nn.char_id = c.char_id
            GROUP BY m.doc_id, c.char_id, nn.n_names, 3
        """,
        "relation_edges": rel_ctes + """
            SELECT doc_id, subj_char, rel, obj_char, n FROM re
        """,
        "priority_sample": f"""
            WITH wt AS (
              SELECT doc_id, source,
                     len(regexp_extract_all(text, '{_SQL_TOKEN_RE}'))::DOUBLE
                       AS w,
                     (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       + 1.0) / 4294967296.0 AS u
              FROM documents
            ), pr AS (
              SELECT doc_id, source, w / u AS priority,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY w / u DESC, doc_id ASC)
                       AS r
              FROM wt
            )
            SELECT doc_id, source, priority FROM pr
            WHERE r <= {PRIORITY_N}
        """,
        "mention_contexts": _BASE_CTES + f""",
            dt AS (
              SELECT doc_id,
                     regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
              FROM documents
            )
            SELECT m.doc_id, m.tok_idx AS start_idx,
                   m.token AS mention_str,
                   greatest(m.tok_idx - {MENTION_CTX_W}, 0) AS ctx_start,
                   array_to_string(
                     dt.tl[greatest(m.tok_idx - {MENTION_CTX_W}, 0) + 1
                           : least(m.tok_idx + 1 + {MENTION_CTX_W},
                                   len(dt.tl))], ' ') AS snippet
            FROM m JOIN dt USING (doc_id)
        """,
        "relation_paths": rel_ctes + """
            SELECT a.doc_id, a.subj_char AS subj, a.rel AS rel1,
                   b.rel AS rel2, b.obj_char AS obj,
                   count(*)::BIGINT AS n_mids,
                   sum(least(a.n, b.n))::BIGINT AS support
            FROM re a JOIN re b ON b.doc_id = a.doc_id
                              AND b.subj_char = a.obj_char
            WHERE b.obj_char <> a.subj_char
            GROUP BY 1, 2, 3, 4, 5
        """,
        "char_salience": _BASE_CTES + """
            , dl AS (
              SELECT doc_id, count(*)::BIGINT AS n_toks
              FROM toks GROUP BY doc_id
            ), pc AS (
              SELECT doc_id, token AS char_id,
                     count(*)::BIGINT AS n_mentions,
                     min(tok_idx)::BIGINT AS first_idx,
                     max(tok_idx)::BIGINT AS last_idx
              FROM m GROUP BY doc_id, token
            )
            SELECT pc.doc_id, pc.char_id, pc.n_mentions, pc.first_idx,
                   (pc.last_idx - pc.first_idx)::BIGINT AS spread,
                   (pc.n_mentions::DOUBLE / dl.n_toks)
                     * (1.0 - pc.first_idx::DOUBLE / dl.n_toks)
                     AS salience
            FROM pc JOIN dl USING (doc_id)
        """,
        "kg_rules": rel_ctes + f"""
            , kg AS (
              SELECT DISTINCT subj_char AS subj, rel, obj_char AS obj
              FROM re
            ), paths AS (
              SELECT DISTINCT a.subj, a.rel AS rel1, b.rel AS rel2,
                              b.obj
              FROM kg a JOIN kg b ON b.subj = a.obj
              WHERE b.obj <> a.subj
            ), body AS (
              SELECT rel1, rel2, count(*)::BIGINT AS n_body
              FROM paths GROUP BY 1, 2
            ), supp AS (
              SELECT p.rel1, p.rel2, h.rel AS rel3,
                     count(*)::BIGINT AS support
              FROM paths p JOIN kg h
                ON h.subj = p.subj AND h.obj = p.obj
              GROUP BY 1, 2, 3
            ), sr3 AS (
              SELECT DISTINCT subj, rel AS rel3 FROM kg
            ), pca AS (
              SELECT p.rel1, p.rel2, s.rel3, count(*)::BIGINT AS n_pca
              FROM paths p JOIN sr3 s ON s.subj = p.subj
              GROUP BY 1, 2, 3
            )
            SELECT s.rel1, s.rel2, s.rel3, s.support, b.n_body,
                   c.n_pca,
                   s.support::DOUBLE / b.n_body AS conf,
                   s.support::DOUBLE / c.n_pca AS pca_conf
            FROM supp s
            JOIN body b USING (rel1, rel2)
            JOIN pca c USING (rel1, rel2, rel3)
            WHERE s.support >= {RULE_MIN_SUPPORT}
        """,
        "entity_links": _BASE_CTES + ", " + _LINK_CTES + """
            SELECT doc_id, tok_idx, surface, entity_id, score, n_cands
            FROM linked
        """,
        # incremental linking == batch linking (doc-local context), so
        # the streaming run shares the entity_links oracle
        # the monoid state's fixpoint == the batch dedup, so the
        # streaming run shares exact_dedup's oracle shape
        "stream_dedup": """
            SELECT md5(text) AS fp, min(doc_id)::BIGINT AS keep_id,
                   count(*)::BIGINT AS n
            FROM documents GROUP BY md5(text)
        """,
        "stream_links": _BASE_CTES + ", " + _LINK_CTES + """
            SELECT doc_id, tok_idx, surface, entity_id, score, n_cands
            FROM linked
        """,
        # the full chain: bigram mentions -> global components (the
        # group-by-first equivalence the linked-characters property
        # test proves for this corpus) -> per-instance KB link of the
        # LAST token -> majority vote per component
        "kb_characters": _BASE_CTES + ", " + _LINK_CTES + f""",
            big AS (
              SELECT t.doc_id, t.tok_idx, t.token AS fi,
                     t.token || ' ' || nx.token AS mention
              FROM toks t JOIN toks nx
                ON nx.doc_id = t.doc_id AND nx.tok_idx = t.tok_idx + 1
              WHERE t.token IN ({_LINK_FIRSTS_SQL})
                AND nx.token IN ({_LINK_LASTS_SQL})
            ), comp AS (
              SELECT fi, min(mention) AS char_id
              FROM (SELECT DISTINCT fi, mention FROM big) GROUP BY fi
            ), ml AS (
              SELECT c.char_id, l.entity_id
              FROM big b
              JOIN comp c ON c.fi = b.fi
              JOIN linked l ON l.doc_id = b.doc_id
                           AND l.tok_idx = b.tok_idx + 1
            ), tot AS (
              SELECT char_id, count(*)::BIGINT AS n_mentions
              FROM ml GROUP BY char_id
            ), votes AS (
              SELECT char_id, entity_id, count(*)::BIGINT AS n
              FROM ml WHERE entity_id <> 'NIL'
              GROUP BY char_id, entity_id
            ), best AS (
              SELECT char_id, entity_id, n,
                     row_number() OVER (PARTITION BY char_id
                                        ORDER BY n DESC, entity_id) AS rn
              FROM votes
            )
            SELECT t.char_id, coalesce(b.entity_id, 'NIL') AS entity_id,
                   coalesce(b.n, 0)::BIGINT AS n_linked, t.n_mentions
            FROM tot t LEFT JOIN best b
              ON b.char_id = t.char_id AND b.rn = 1
        """,
        "stream_tokens": f"""
            SELECT doc_id, u.i - 1 AS tok_idx, u.tok AS token
            FROM (SELECT doc_id,
                         regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
                  FROM documents),
                 LATERAL (SELECT unnest(tl) AS tok,
                                 generate_subscripts(tl, 1) AS i) u
        """,
        "dedup_keep_best": _MINHASH_CTES.replace(
            "WITH ", "WITH RECURSIVE ", 1
        )
        + f"""
            , cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS i
              FROM cand c
              JOIN sh s1 ON s1.doc_id = c.doc_a
              JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
              GROUP BY c.doc_a, c.doc_b
            ),
            dup_pairs AS (
              SELECT c.doc_a, c.doc_b
              FROM cand c
              LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
              JOIN sizes na ON na.doc_id = c.doc_a
              JOIN sizes nb ON nb.doc_id = c.doc_b
              WHERE coalesce(i.i, 0)::DOUBLE
                    / greatest(na.n + nb.n - coalesce(i.i, 0), 1) >= 0.2
            ),
            e AS (
              SELECT doc_a AS u, doc_b AS v FROM dup_pairs
              UNION SELECT doc_b, doc_a FROM dup_pairs
            ),
            r(u, l) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.v, r.l FROM r JOIN e ON e.u = r.u
            ),
            clusters AS (
              SELECT u AS doc_id, min(l) AS cluster_id FROM r GROUP BY u
            ),
            qual AS (
              SELECT doc_id, round(quality_score, 6) AS q
              FROM ({_ORACLE_QUALITY}) _qq
            ),
            ranked AS (
              SELECT c.doc_id, c.cluster_id,
                     row_number() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY q.q DESC, c.doc_id ASC) AS rn
              FROM clusters c JOIN qual q ON q.doc_id = c.doc_id
            ),
            best AS (
              SELECT cluster_id, doc_id AS best_id FROM ranked WHERE rn = 1
            )
            SELECT c.doc_id, c.cluster_id,
                   (c.doc_id = b.best_id)::BIGINT AS keep, b.best_id
            FROM clusters c JOIN best b ON b.cluster_id = c.cluster_id
        """,
        "tfidf_terms": f"""
WITH tr AS (
  SELECT doc_id, lower(u.tok) AS term
  FROM (SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
        FROM documents),
       LATERAL (SELECT unnest(tl) AS tok) u
  WHERE regexp_matches(lower(u.tok), '^[a-z][a-z0-9_'']*$')
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tr GROUP BY doc_id, term
), dft AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / dft.df) AS score
  FROM tf JOIN dft USING (term) CROSS JOIN n
), rk AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rank
  FROM sc
)
SELECT doc_id, term, round(score, 6) AS score, rank::INT AS rank
FROM rk WHERE rank <= 5
""",
        "related_docs": f"""
WITH t0 AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(text, '{_SQL_TOKEN_RE}'),
                        t -> lower(t)) AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(CASE WHEN len(tk) >= {RELATED_W}
           THEN list_transform(range(1, len(tk) - {RELATED_W} + 2),
                  i -> array_to_string(
                         list_slice(tk, i, i + {RELATED_W} - 1), ' '))
           ELSE []::VARCHAR[] END) AS term
  FROM t0
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM sh GROUP BY doc_id, term
), dft AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
  HAVING count(*) <= {RELATED_MAXDF}
), n AS (SELECT count(*)::DOUBLE AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / dft.df) AS w
  FROM tf JOIN dft USING (term) CROSS JOIN n
), nrm AS (
  SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b,
       round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots d
JOIN nrm na ON na.doc_id = d.doc_a
JOIN nrm nb ON nb.doc_id = d.doc_b
WHERE round(d.dot / (na.nrm * nb.nrm), 6) >= {RELATED_T}
""",
        "lm_scores": f"""
WITH tk AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(text, '{_SQL_TOKEN_RE}'),
                        t -> lower(t)) AS tl
  FROM documents
), bg AS (
  SELECT doc_id, tl[g.i] AS w1, tl[g.i + 1] AS w2
  FROM tk, LATERAL (SELECT unnest(range(1, len(tl))) AS i) g
  WHERE len(tl) >= 2
), dbg AS (
  SELECT doc_id, w1, w2, count(*)::BIGINT AS m FROM bg GROUP BY doc_id, w1, w2
), c2 AS (SELECT w1, w2, sum(m)::BIGINT AS c2 FROM dbg GROUP BY w1, w2),
c1 AS (SELECT w1, sum(m)::BIGINT AS c1 FROM dbg GROUP BY w1),
v AS (
  SELECT count(*)::DOUBLE AS v FROM (
    SELECT w1 AS w FROM dbg UNION SELECT w2 AS w FROM dbg
  )
)
SELECT dbg.doc_id, sum(dbg.m)::BIGINT AS n_bigrams,
       round(sum(dbg.m * (ln(c1.c1 + v.v) - ln(c2.c2 + 1))) / sum(dbg.m), 6)
         AS bigram_nll
FROM dbg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
GROUP BY dbg.doc_id
""",
        "ccnet_buckets": f"""
WITH tk AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(text, '{_SQL_TOKEN_RE}'),
                        t -> lower(t)) AS tl
  FROM documents
), bg AS (
  SELECT doc_id, tl[g.i] AS w1, tl[g.i + 1] AS w2
  FROM tk, LATERAL (SELECT unnest(range(1, len(tl))) AS i) g
  WHERE len(tl) >= 2
), dbg AS (
  SELECT doc_id, w1, w2, count(*)::BIGINT AS m FROM bg GROUP BY doc_id, w1, w2
), c2 AS (SELECT w1, w2, sum(m)::BIGINT AS c2 FROM dbg GROUP BY w1, w2),
c1 AS (SELECT w1, sum(m)::BIGINT AS c1 FROM dbg GROUP BY w1),
v AS (
  SELECT count(*)::DOUBLE AS v FROM (
    SELECT w1 AS w FROM dbg UNION SELECT w2 AS w FROM dbg
  )
), nll AS (
  SELECT dbg.doc_id,
         round(sum(dbg.m * (ln(c1.c1 + v.v) - ln(c2.c2 + 1)))
               / sum(dbg.m), 6) AS nll6
  FROM dbg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY dbg.doc_id
)
SELECT n.doc_id, d.lang, n.nll6 AS bigram_nll,
       ntile({CCNET_K}) OVER (PARTITION BY d.lang
                              ORDER BY n.nll6, n.doc_id)::INT AS bucket_id
FROM nll n JOIN documents d USING (doc_id)
""",
        "doc_chunks": f"""
WITH tk AS (
  SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
  FROM documents
), st AS (
  SELECT doc_id, tl, unnest(range(0, len(tl), {CHUNK_STRIDE})) AS s
  FROM tk WHERE len(tl) >= 1
)
SELECT doc_id, (s // {CHUNK_STRIDE})::BIGINT AS chunk_id,
       s::BIGINT AS start_tok,
       least({CHUNK_SIZE}, len(tl) - s)::BIGINT AS n_tok,
       md5(array_to_string(list_slice(tl, s + 1, s + {CHUNK_SIZE}), ' '))
         AS chunk_fp
FROM st
""",
        "mixture_weights": f"""
WITH per AS (
  SELECT source AS grp,
         sum(len(regexp_extract_all(text, '{_SQL_TOKEN_RE}')))::BIGINT
           AS n_tokens
  FROM documents GROUP BY source
), tot AS (SELECT sum(n_tokens) AS tt FROM per),
sh AS (
  SELECT grp, n_tokens, n_tokens::DOUBLE / tot.tt AS token_share
  FROM per, tot
), z AS (SELECT sum(pow(token_share, 0.7)) AS z FROM sh)
SELECT grp, n_tokens, round(token_share, 6) AS token_share,
       round(pow(sh.token_share, 0.7) / z.z, 6) AS weight
FROM sh, z
""",
        "mixture_sample": f"""
WITH per AS (
  SELECT source AS grp,
         sum(len(regexp_extract_all(text, '{_SQL_TOKEN_RE}')))::BIGINT
           AS n_tokens
  FROM documents GROUP BY source
), tot AS (SELECT sum(n_tokens) AS tt FROM per),
p AS (
  SELECT grp, pow(n_tokens::DOUBLE / tot.tt, {MIX_ALPHA}) AS pw
  FROM per, tot
), mx AS (SELECT max(pw) AS m FROM p),
rates AS (SELECT grp, round(pw / m, 6) AS rate FROM p, mx)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r ON r.grp = d.source
WHERE ('0x' || substr(md5('{MIX_SALT}' || d.doc_id::VARCHAR), 1, 8))::BIGINT
      < floor(r.rate * 4294967296)::BIGINT
""",
        "event_asof": """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, max(event_id) AS event_id,
         max_by(value, event_id) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       p.event_id AS purchase_id,
       round(p.value, 6) AS purchase_value,
       p.ts AS purchase_ts
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
""",
        "event_range": """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), iv AS (
  SELECT event_id AS signup_id, user_id, ts AS s,
         ts + INTERVAL 90 MINUTE AS e
  FROM events WHERE event_type = 'signup'
)
SELECT c.event_id, c.user_id, iv.signup_id
FROM clicks c JOIN iv
  ON c.user_id = iv.user_id AND c.ts >= iv.s AND c.ts < iv.e
""",
        "norm_text": """
            WITH dirty AS (
              SELECT doc_id,
                     ' ' || chr(9) || '“' || upper(substr(text, 1, 8))
                     || '”  ' || text || ' – end' || chr(9) AS t
              FROM documents
            )
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(
                     translate(t, '‘’“”–— ', '''''""-- '),
                     '[\\x00-\\x1F\\x7F]', '', 'g'),
                     '\\s+', ' ', 'g')) AS norm_text
            FROM dirty
        """,
        "len_quantiles": f"""
            WITH regs AS (
              SELECT source,
                     least(greatest(floor((n_chars - {HIST_LO!r})
                                          / {(HIST_HI - HIST_LO) / HIST_BINS!r}),
                                    0), {HIST_BINS - 1})::INT AS bin,
                     count(*)::BIGINT AS c
              FROM documents GROUP BY 1, 2
            ), cum AS (
              SELECT source, bin, c,
                     sum(c) OVER (PARTITION BY source ORDER BY bin
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                     sum(c) OVER (PARTITION BY source) AS n
              FROM regs
            ), qq AS (
              SELECT cum.*, q
              FROM cum, (SELECT unnest([{", ".join(repr(q) for q in HIST_QS)}]) AS q)
            )
            SELECT source, round(q, 2) AS q,
                   round({HIST_LO!r}
                         + (min(CASE WHEN cum >= q * n THEN bin END) + 1)
                           * {(HIST_HI - HIST_LO) / HIST_BINS!r}, 6) AS est,
                   max(n)::BIGINT AS n
            FROM qq GROUP BY source, q
        """,
        "cms_counts": f"""
WITH pr AS (SELECT unnest(['spark','customer','window','table','batch','vector','data','merge','zzzmissing']) AS token),
tk AS (
  SELECT lower(u.tok) AS tok
  FROM (SELECT regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
        FROM documents),
       LATERAL (SELECT unnest(tl) AS tok) u
), cells AS (
  SELECT j.row,
         (('0x' || substr(md5(j.row::VARCHAR || ':' || tok), 1, 8))::BIGINT
          % 256) AS col,
         count(*) AS c
  FROM tk, range(0, 4) j(row) GROUP BY 1, 2
), pc AS (
  SELECT p.token, j.row,
         (('0x' || substr(md5(j.row::VARCHAR || ':' || lower(p.token)),
                          1, 8))::BIGINT % 256) AS col
  FROM pr p CROSS JOIN range(0, 4) j(row)
), pe AS (
  SELECT pc.token, min(coalesce(c.c, 0)) AS cms_est
  FROM pc LEFT JOIN cells c ON c.row = pc.row AND c.col = pc.col
  GROUP BY pc.token
), ex AS (SELECT tok, count(*) AS n FROM tk GROUP BY tok)
SELECT p.token, coalesce(ex.n, 0)::BIGINT AS exact_n,
       pe.cms_est::BIGINT AS cms_est
FROM pr p JOIN pe ON pe.token = p.token
LEFT JOIN ex ON ex.tok = lower(p.token)
""",
        "hll_tokens": f"""
WITH tk AS (
  SELECT source AS grp, lower(u.tok) AS tok
  FROM (SELECT source, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
        FROM documents),
       LATERAL (SELECT unnest(tl) AS tok) u
), reg AS (
  SELECT grp,
         (('0x' || substr(md5('hllb:' || tok), 1, 8))::BIGINT % 256)
           AS bucket,
         max(CASE WHEN (('0x' || substr(md5('hllv:' || tok), 1, 8))::BIGINT)
                       = 0
                  THEN 33
                  ELSE 33 - length(
                    bin(('0x' || substr(md5('hllv:' || tok), 1, 8))::BIGINT))
             END) AS rho
  FROM tk GROUP BY 1, 2
), ag AS (
  SELECT grp, sum(pow(2.0, -rho)) AS s, count(*) AS nb FROM reg GROUP BY grp
), fin AS (
  SELECT grp, 0.7213 / (1 + 1.079 / 256) * 65536 / (s + (256 - nb)) AS raw,
         256 - nb AS zeros
  FROM ag
), ex AS (
  SELECT grp, count(DISTINCT tok)::BIGINT AS n_exact FROM tk GROUP BY grp
)
SELECT f.grp, ex.n_exact,
       round(CASE WHEN raw <= 640 AND zeros > 0
                  THEN 256.0 * ln(256.0 / zeros) ELSE raw END, 6) AS hll_est
FROM fin f JOIN ex ON ex.grp = f.grp
""",
        "bloom_seen": f"""
WITH fps AS (SELECT doc_id, md5(text) AS key, source FROM documents),
seen AS (
  SELECT DISTINCT key FROM fps
  WHERE source IN ({", ".join("'" + s + "'" for s in BLOOM_SEEN_SOURCES)})
), bits AS (
  SELECT DISTINCT
         (('0x' || substr(md5(i.i::VARCHAR || ':' || key), 1, 8))::BIGINT
          % {BLOOM_M}) AS pos
  FROM seen CROSS JOIN range(0, {BLOOM_K}) i(i)
), pc AS (
  SELECT key,
         (('0x' || substr(md5(i.i::VARCHAR || ':' || key), 1, 8))::BIGINT
          % {BLOOM_M}) AS pos
  FROM (SELECT DISTINCT key FROM fps) CROSS JOIN range(0, {BLOOM_K}) i(i)
), mem AS (
  SELECT key,
         min(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END)::BIGINT AS in_bloom
  FROM pc LEFT JOIN bits b USING(pos) GROUP BY key
)
SELECT f.doc_id, m.in_bloom,
       (CASE WHEN s.key IS NULL THEN 0 ELSE 1 END)::BIGINT AS in_seen
FROM fps f JOIN mem m USING(key) LEFT JOIN seen s ON s.key = f.key
""",
        "char_ppr": ppr_sql,
        "kg_upsert": upsert_sql,
        "token_spectrum": f"""
WITH tok AS (
  SELECT lower(unnest(regexp_extract_all(text, '{_SQL_TOKEN_RE}'))) AS t
  FROM documents
), fr AS (SELECT t, count(*)::BIGINT AS freq FROM tok GROUP BY t)
SELECT freq, count(*)::BIGINT AS n_types FROM fr GROUP BY freq
""",
        "epoch_order": f"""
WITH ep AS (
  SELECT d.doc_id, i.i AS epoch,
         substr(md5('ep:' || i.i::VARCHAR || ':' || d.doc_id::VARCHAR),
                1, 8) AS h
  FROM documents d CROSS JOIN range(0, {EPOCH_ORDER_N}) i(i)
)
SELECT doc_id, epoch::INT AS epoch,
       (row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id)
        - 1)::BIGINT AS ord
FROM ep
""",
        "event_props": """
SELECT event_type,
       count(*)::BIGINT AS n,
       count(CAST(props->>'k' AS BIGINT))::BIGINT AS n_k,
       min(CAST(props->>'k' AS BIGINT))::BIGINT AS k_min,
       max(CAST(props->>'k' AS BIGINT))::BIGINT AS k_max,
       sum(CAST(props->>'k' AS BIGINT))::BIGINT AS k_sum
FROM events GROUP BY event_type
""",
        "event_gaps": """
SELECT user_id, event_id,
       (epoch_us(ts) - lag(epoch_us(ts)) OVER (
          PARTITION BY user_id ORDER BY ts, event_id))::BIGINT AS gap_us
FROM events
""",
        "embedding_clusters": f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
           AS centroid_id
  FROM embeddings
  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {IVF_CENTROIDS}
), n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS nrm
  FROM embeddings
), cn AS (
  SELECT centroid_id, cvec,
         sqrt(list_sum(list_transform(cvec, x -> x::DOUBLE * x::DOUBLE)))
           AS cnrm
  FROM cents
), scored AS (
  SELECT v.vec_id, c.centroid_id,
         list_sum(list_transform(list_zip(v.embedding, c.cvec),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (v.nrm * c.cnrm)
           AS cos_c
  FROM n v CROSS JOIN cn c
), probes AS (
  SELECT vec_id, centroid_id, cos_c,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_c DESC, centroid_id ASC)
           AS probe_rank
  FROM scored
), assign AS (
  SELECT vec_id, centroid_id, cos_c FROM probes WHERE probe_rank = 1
)
SELECT centroid_id, count(*)::BIGINT AS n_vecs,
       round(min(cos_c), 6) AS min_cos,
       round(max(cos_c), 6) AS max_cos
FROM assign GROUP BY centroid_id
""",
        "event_rollup": """
SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket, event_type,
       count(*)::BIGINT AS n, round(sum(value), 6) AS total_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day', date_trunc('day', ts), event_type,
       count(*)::BIGINT, round(sum(value), 6)
FROM events GROUP BY 2, 3
""",
        "dedup_groups": _MINHASH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
        + """
            , cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS i
              FROM cand c
              JOIN sh s1 ON s1.doc_id = c.doc_a
              JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
              GROUP BY c.doc_a, c.doc_b
            ),
            dup_pairs AS (
              SELECT c.doc_a, c.doc_b
              FROM cand c
              LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
              JOIN sizes na ON na.doc_id = c.doc_a
              JOIN sizes nb ON nb.doc_id = c.doc_b
              WHERE coalesce(i.i, 0)::DOUBLE
                    / greatest(na.n + nb.n - coalesce(i.i, 0), 1) >= 0.2
            ),
            e AS (
              SELECT doc_a AS u, doc_b AS v FROM dup_pairs
              UNION SELECT doc_b, doc_a FROM dup_pairs
            ),
            r(u, l) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.v, r.l FROM r JOIN e ON e.u = r.u
            ),
            clusters AS (
              SELECT u AS doc_id, min(l) AS cluster_id FROM r GROUP BY u
            )
            SELECT doc_id, cluster_id,
                   (doc_id = cluster_id)::BIGINT AS keep
            FROM clusters
        """,
        "simhash_near_pairs": _ORACLE_SIMHASH_PAIRS,
        "linked_characters": _ORACLE_LINKED,
        "linked_scale_characters": _ORACLE_LINKED,
        "character_names": _ORACLE_CHAR_NAMES,
        "bpe_tokens": _oracle_bpe_tokens(),
        "global_characters": f"""
            WITH toks AS (
              SELECT doc_id, u.tok AS token, u.i - 1 AS tok_idx
              FROM (SELECT doc_id,
                           regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
                    FROM documents),
                   LATERAL (SELECT unnest(tl) AS tok,
                                   generate_subscripts(tl, 1) AS i) u
            ), pairs0 AS (
              SELECT doc_id, tok_idx, token AS t1,
                     lead(token) OVER (PARTITION BY doc_id
                                       ORDER BY tok_idx) AS t2
              FROM toks
            ), big AS (
              SELECT doc_id, t1 AS fi, t1 || ' ' || t2 AS mention
              FROM pairs0
              WHERE t1 IN ({_LINK_FIRSTS_SQL}) AND t2 IN ({_LINK_LASTS_SQL})
            ), gnames AS (
              SELECT DISTINCT fi, mention FROM big
            ), gcomp AS (
              SELECT fi, min(mention) AS char_id,
                     count(*)::BIGINT AS n_names
              FROM gnames GROUP BY fi
            )
            SELECT b.doc_id, g.char_id, g.n_names,
                   count(*)::BIGINT AS mention_count
            FROM big b JOIN gcomp g ON g.fi = b.fi
            GROUP BY b.doc_id, g.char_id, g.n_names
        """,
        "speaker_edges": _BASE_CTES + _SPEAKER_CTES + f"""
            , pr AS (
              SELECT a.doc_id, a.speaker AS sp1, b.speaker AS sp2
              FROM sp a JOIN sp b
                ON a.doc_id = b.doc_id AND a.quote_id < b.quote_id
              WHERE abs(CASE WHEN b.qs >= a.qe THEN b.qs - a.qe
                             ELSE a.qs - b.qe END) <= {CONV_DIST}
                AND a.speaker <> b.speaker
            )
            SELECT doc_id, least(sp1, sp2) AS src,
                   greatest(sp1, sp2) AS dst, count(*)::BIGINT AS weight
            FROM pr GROUP BY doc_id, least(sp1, sp2), greatest(sp1, sp2)
        """,
        "dynamic_conversation": _BASE_CTES + _SPEAKER_CTES + f"""
            , rk AS (
              SELECT doc_id, quote_id, qs, qe,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY qs, qe, quote_id) - 1 AS r,
                     count(*) OVER (PARTITION BY doc_id) AS n
              FROM quotes
            ), wins AS (
              SELECT *, greatest(ceil((n - {CONV_WIN})::DOUBLE
                                      / {CONV_WIN - CONV_OVERLAP})::INT + 1,
                                 1) AS nwin
              FROM rk
            ), qw AS (
              SELECT doc_id, quote_id, qs, qe,
                     unnest(generate_series(
                        greatest(ceil((r - {CONV_WIN} + 1)::DOUBLE
                                      / {CONV_WIN - CONV_OVERLAP})::INT, 0),
                        least(floor(r::DOUBLE
                                    / {CONV_WIN - CONV_OVERLAP})::INT,
                              nwin - 1)))::INT AS window_id
              FROM wins
            ), qws AS (
              SELECT w.doc_id, w.window_id, w.quote_id, w.qs, w.qe,
                     s.speaker
              FROM qw w JOIN sp s
                ON s.doc_id = w.doc_id AND s.quote_id = w.quote_id
            ), pr AS (
              SELECT a.doc_id, a.window_id,
                     a.speaker AS sp1, b.speaker AS sp2
              FROM qws a JOIN qws b
                ON a.doc_id = b.doc_id AND a.window_id = b.window_id
               AND a.quote_id < b.quote_id
              WHERE abs(CASE WHEN b.qs >= a.qe THEN b.qs - a.qe
                             ELSE a.qs - b.qe END) <= {CONV_DIST}
                AND a.speaker <> b.speaker
            )
            SELECT doc_id, window_id, least(sp1, sp2) AS src,
                   greatest(sp1, sp2) AS dst, count(*)::BIGINT AS weight
            FROM pr
            GROUP BY doc_id, window_id, least(sp1, sp2), greatest(sp1, sp2)
        """,
        "mention_edges": _BASE_CTES + _SPEAKER_CTES + """
            , inside AS (
              SELECT DISTINCT s.doc_id, s.quote_id,
                     s.speaker AS src, m.token AS dst
              FROM sp s JOIN m ON m.doc_id = s.doc_id
                AND m.tok_idx >= s.qs AND m.tok_idx + 1 <= s.qe
              WHERE s.speaker <> m.token
            )
            SELECT doc_id, src, dst, count(*)::BIGINT AS weight
            FROM inside GROUP BY doc_id, src, dst
        """,
        "polarity_edges": edges_ctes + f"""
            , lex(word, val) AS (VALUES {_LEX_SQL}),
            spol AS (
              SELECT t.doc_id, (t.tok_idx // {POLARITY_SENT_LEN})::INT AS s,
                     sum(coalesce(l.val, 0)) AS sv
              FROM toks t LEFT JOIN lex l ON l.word = t.token
              GROUP BY t.doc_id, (t.tok_idx // {POLARITY_SENT_LEN})
            ), pol AS (
              SELECT doc_id, s, round(sv / sqrt(sv * sv + 15.0), 6) AS p
              FROM spol
            ), pp AS (
              SELECT pr.doc_id, pr.i, pr.j, pr.t1, pr.t2, p.p, p.s,
                     row_number() OVER (
                       PARTITION BY pr.doc_id, pr.i, pr.j
                       ORDER BY abs(p.p) DESC, p.s ASC) AS rn
              FROM pairs pr JOIN pol p ON p.doc_id = pr.doc_id
                AND p.s >= pr.i // {POLARITY_SENT_LEN}
                AND p.s <= pr.j // {POLARITY_SENT_LEN}
              WHERE pr.t1 <> pr.t2
            )
            SELECT doc_id, least(t1, t2) AS src, greatest(t1, t2) AS dst,
                   count(*)::BIGINT AS weight,
                   round(sum(p), 6) AS polarity
            FROM pp WHERE rn = 1
            GROUP BY doc_id, least(t1, t2), greatest(t1, t2)
        """,
        "bio_entities": _ORACLE_BIO.format(base=_BASE_CTES),
        "srp_multi_topk": _ORACLE_SRP_MULTI,
        "ivf_topk": _ORACLE_IVF,
        "pq_topk": _ORACLE_PQ,
        "capped_near_dups": _MINHASH_CTES + """
            , ranked AS (
              SELECT doc_id, band, band_key,
                     row_number() OVER (PARTITION BY band, band_key
                                        ORDER BY doc_id) AS r
              FROM bands
            ), cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM ranked a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
              WHERE a.r <= 5
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT c.doc_a, c.doc_b, count(*) AS i
              FROM cand c
              JOIN sh s1 ON s1.doc_id = c.doc_a
              JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
              GROUP BY c.doc_a, c.doc_b
            ),
            fullp AS (
              SELECT c.doc_a, c.doc_b,
                     coalesce(i.i, 0)::BIGINT AS inter,
                     (na.n + nb.n - coalesce(i.i, 0))::BIGINT AS union_
              FROM cand c
              LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
              JOIN sizes na ON na.doc_id = c.doc_a
              JOIN sizes nb ON nb.doc_id = c.doc_b
            )
            SELECT doc_a, doc_b, inter, union_,
                   round(inter::DOUBLE / greatest(union_, 1), 6) AS jaccard
            FROM fullp
            WHERE inter::DOUBLE / greatest(union_, 1) >= 0.2
        """,
        "cosine_topk": _ORACLE_COSINE,
        "srp_ann_topk": _ORACLE_SRP_ANN,
        "bm25_topk": _oracle_bm25(),
        "event_windows": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*)::BIGINT AS n,
                   round(sum(value), 6) AS total_value
            FROM events GROUP BY date_trunc('hour', ts), event_type
        """,
        "event_sliding": """
            WITH ev AS (
              SELECT epoch(ts) AS es, event_type, value FROM events
            ), w AS (
              SELECT make_timestamp(
                       ((floor(es / 900) * 900 - k.k * 900)
                        * 1000000)::BIGINT) AS window_start,
                     event_type, value
              FROM ev CROSS JOIN range(0, 4) k(k)
            )
            SELECT window_start, event_type, count(*)::BIGINT AS n,
                   round(sum(value), 6) AS total_value
            FROM w GROUP BY 1, 2
        """,
        "event_rolling": f"""
            SELECT event_id, user_id, ts, round(value, 6) AS value,
                   count(value) OVER w_prev::BIGINT AS roll_n,
                   round(coalesce(sum(value) OVER w_prev, 0), 6)
                     AS roll_sum,
                   round(coalesce(avg(value) OVER w_prev, 0), 6)
                     AS roll_mean,
                   round(coalesce(max(value) OVER w_prev, 0), 6)
                     AS roll_max,
                   round(coalesce(value - lag(value) OVER w_ord, 0), 6)
                     AS delta_prev
            FROM events
            WINDOW
              w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {ROLL_K} PRECEDING
                                  AND 1 PRECEDING),
              w_ord AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "user_sessions": """
            WITH marked AS (
              SELECT user_id, ts,
                     CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
              SELECT user_id, ts,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
              FROM marked
            )
            SELECT user_id, session_id::BIGINT AS session_id,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*)::BIGINT AS n_events
            FROM sess GROUP BY user_id, session_id
        """,
        "session_windows": """
            WITH marked AS (
              SELECT user_id, ts,
                     CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
              SELECT user_id, ts,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
              FROM marked
            )
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   count(*)::BIGINT AS n_events
            FROM sess GROUP BY user_id, session_id
        """,
        "embedding_near_dups": f"""
WITH b AS (
  SELECT vec_id, t.t AS table_id,
    (SELECT string_agg(CASE WHEN
        list_sum(list_transform(list_zip(embedding, range(0, len(embedding))),
          x -> x[1]::DOUBLE *
               ((('0x' || substr(md5('t:' || t.t::VARCHAR || ':' || j.j::VARCHAR
                                  || ':' || x[2]::VARCHAR), 1, 1))::INT
                 % 2) * 2 - 1))) > 0
        THEN '1' ELSE '0' END, '' ORDER BY j.j)
     FROM range(0, 8) j(j)) AS bucket
  FROM embeddings, range(0, {SRP_TABLES}) t(t)
), n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS nrm
  FROM embeddings
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM b a JOIN b b2
    ON a.table_id = b2.table_id AND a.bucket = b2.bucket
   AND a.vec_id < b2.vec_id
), p AS (
  SELECT c.id_a, c.id_b,
         list_sum(list_transform(list_zip(na.embedding, nb.embedding),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (na.nrm * nb.nrm)
           AS cosine
  FROM cand c
  JOIN n na ON na.vec_id = c.id_a
  JOIN n nb ON nb.vec_id = c.id_b
)
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM p WHERE cosine >= 0.4
        """,
        # interleaved-spans shape (BASELINE.json input_hint): DuckDB
        # rebuilds the same 4-span sequence from the flat table and
        # recomputes the lineage md5 over (kind, text, media_ref, order)
        # with span_lineage's collision-proof delimiters: chr(1) between
        # fields, chr(2) for NULL, chr(3) between spans.
        "span_lineage": """
            WITH q AS (
              SELECT doc_id,
                     substr(text, 1, length(text) // 2) AS s1,
                     substr(text, length(text) // 2 + 1) AS s2,
                     (['audio','video','image'])[(doc_id % 3 + 1)::INT] AS kv
              FROM documents
            )
            SELECT doc_id,
                   4::BIGINT AS n_spans,
                   md5(
                     'text' || chr(1) || s1 || chr(1) || chr(2)
                       || chr(1) || '0'
                     || chr(3) || 'image' || chr(1) || chr(2) || chr(1)
                       || 'img://' || doc_id::VARCHAR || '/0' || chr(1) || '1'
                     || chr(3) || 'text' || chr(1) || s2 || chr(1) || chr(2)
                       || chr(1) || '2'
                     || chr(3) || kv || chr(1) || chr(2) || chr(1)
                       || kv || '://' || doc_id::VARCHAR || '/1'
                       || chr(1) || '3'
                   ) AS span_fingerprint
            FROM q
        """,
        # media grounding: DuckDB rebuilds mention char offsets from
        # the single-space token structure (prefix sum of lengths) and
        # takes the global argmin — equivalent to the engine's
        # prev/next AS-OF pass because the nearest mention is always
        # one of the two directional neighbors, and the (dist,
        # char_start) order reproduces the prev-on-tie rule.
        "media_links": _BASE_CTES + f"""
            , toko AS (
              SELECT doc_id, token,
                     coalesce(sum(length(token)) OVER (
                       PARTITION BY doc_id ORDER BY tok_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) + tok_idx AS char_start
              FROM toks
            ), ment AS (
              SELECT doc_id, char_start, token AS character
              FROM toko WHERE token IN ({_CAST_SQL})
            ), med AS (
              SELECT doc_id,
                     'img://' || doc_id::VARCHAR || '/0' AS media_ref,
                     'image' AS kind, length(text) // 2 AS off
              FROM documents
              UNION ALL
              SELECT doc_id,
                     (['audio','video','image'])[(doc_id % 3 + 1)::INT]
                       || '://' || doc_id::VARCHAR || '/1',
                     (['audio','video','image'])[(doc_id % 3 + 1)::INT],
                     length(text)
              FROM documents
            ), cand AS (
              SELECT med.doc_id, med.media_ref, med.kind, mn.character,
                     abs(med.off - mn.char_start) AS dist,
                     row_number() OVER (
                       PARTITION BY med.doc_id, med.media_ref
                       ORDER BY abs(med.off - mn.char_start),
                                mn.char_start, mn.character
                     ) AS rn
              FROM med JOIN ment mn ON mn.doc_id = med.doc_id
            )
            SELECT doc_id, media_ref, kind, character,
                   dist::BIGINT AS dist
            FROM cand WHERE rn = 1
        """,
        "media_stats": """
            WITH med AS (
              SELECT doc_id, 'image' AS kind,
                     'img://' || doc_id::VARCHAR || '/0' AS media_ref,
                     length(text) // 2 AS off
              FROM documents
              UNION ALL
              SELECT doc_id,
                     (['audio','video','image'])[(doc_id % 3 + 1)::INT],
                     (['audio','video','image'])[(doc_id % 3 + 1)::INT]
                       || '://' || doc_id::VARCHAR || '/1',
                     length(text)
              FROM documents
            )
            SELECT kind,
                   count(*)::BIGINT AS n_media,
                   count(DISTINCT doc_id)::BIGINT AS n_docs,
                   count(DISTINCT media_ref)::BIGINT AS n_refs,
                   sum(off)::BIGINT AS sum_offset
            FROM med GROUP BY kind
        """,
        # windowFunnel ∃-chain semantics stated directly: level l iff a
        # non-decreasing chain of the first l steps fits the window
        "event_funnel": f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, event_type AS et
  FROM events
  WHERE event_type IN ('{FUNNEL_STEPS[0]}', '{FUNNEL_STEPS[1]}',
                       '{FUNNEL_STEPS[2]}')
), u AS (SELECT DISTINCT user_id FROM e),
l1 AS (SELECT DISTINCT user_id FROM e WHERE et = '{FUNNEL_STEPS[0]}'),
l2 AS (
  SELECT DISTINCT a.user_id
  FROM e a JOIN e b ON b.user_id = a.user_id
  WHERE a.et = '{FUNNEL_STEPS[0]}' AND b.et = '{FUNNEL_STEPS[1]}'
    AND b.t >= a.t AND b.t - a.t <= {FUNNEL_WINDOW_S * 1_000_000}
),
l3 AS (
  SELECT DISTINCT a.user_id
  FROM e a
  JOIN e b ON b.user_id = a.user_id
  JOIN e c ON c.user_id = a.user_id
  WHERE a.et = '{FUNNEL_STEPS[0]}' AND b.et = '{FUNNEL_STEPS[1]}'
    AND c.et = '{FUNNEL_STEPS[2]}' AND b.t >= a.t AND c.t >= b.t
    AND c.t - a.t <= {FUNNEL_WINDOW_S * 1_000_000}
)
SELECT u.user_id,
       (CASE WHEN l3.user_id IS NOT NULL THEN 3
             WHEN l2.user_id IS NOT NULL THEN 2
             WHEN l1.user_id IS NOT NULL THEN 1
             ELSE 0 END)::INT AS level
FROM u LEFT JOIN l1 ON l1.user_id = u.user_id
       LEFT JOIN l2 ON l2.user_id = u.user_id
       LEFT JOIN l3 ON l3.user_id = u.user_id
""",
        "retention": """
WITH act AS (
  SELECT DISTINCT user_id AS u, date_trunc('week', ts)::DATE AS p
  FROM events
), fst AS (SELECT u, min(p) AS cohort FROM act GROUP BY u)
SELECT fst.cohort::VARCHAR AS cohort,
       (date_diff('day', fst.cohort, act.p) // 7)::INT AS "offset",
       count(*)::BIGINT AS n_users
FROM act JOIN fst ON act.u = fst.u
GROUP BY 1, 2
""",
        "table_profile": """
SELECT 'doc_id' AS col_name, count(*)::BIGINT AS n,
       (count(*) - count(doc_id))::BIGINT AS n_null,
       count(DISTINCT doc_id)::BIGINT AS n_distinct,
       min(doc_id)::VARCHAR AS min_val, max(doc_id)::VARCHAR AS max_val
FROM documents
UNION ALL
SELECT 'text', count(*)::BIGINT, (count(*) - count(text))::BIGINT,
       count(DISTINCT text)::BIGINT, min(text), max(text)
FROM documents
UNION ALL
SELECT 'lang', count(*)::BIGINT, (count(*) - count(lang))::BIGINT,
       count(DISTINCT lang)::BIGINT, min(lang), max(lang)
FROM documents
UNION ALL
SELECT 'source', count(*)::BIGINT, (count(*) - count(source))::BIGINT,
       count(DISTINCT source)::BIGINT, min(source), max(source)
FROM documents
UNION ALL
SELECT 'n_chars', count(*)::BIGINT, (count(*) - count(n_chars))::BIGINT,
       count(DISTINCT n_chars)::BIGINT, min(n_chars)::VARCHAR,
       max(n_chars)::VARCHAR
FROM documents
""",
        "kg_ntriples": edges_ctes + """,
trip AS (
  SELECT DISTINCT least(t1, t2) AS subj, 'interacts_with' AS pred,
         greatest(t1, t2) AS obj
  FROM pairs WHERE t1 <> t2
), nodes AS (
  SELECT subj AS name FROM trip UNION SELECT obj FROM trip
), esc AS (
  SELECT name,
         replace(replace(replace(replace(replace(name,
           '\\', '\\\\'), '"', '\\"'), chr(10), '\\n'), chr(13), '\\r'),
           chr(9), '\\t') AS ename
  FROM nodes
)
SELECT '_:b' || md5(subj) || ' <http://example.org/kg/' || pred
       || '> _:b' || md5(obj) || ' .' AS line
FROM trip
UNION ALL
SELECT '_:b' || md5(name)
       || ' <http://www.w3.org/2000/01/rdf-schema#label> "'
       || ename || '" .'
FROM esc
""",
        "event_gapfill": """
WITH agg AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS bucket_start,
         count(*)::BIGINT AS n, max(value) AS vmax
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(date_trunc('hour', ts)) AS lo,
         max(date_trunc('hour', ts)) AS hi
  FROM events
), keys AS (SELECT DISTINCT event_type AS key FROM events),
spine AS (
  SELECT k.key,
         unnest(generate_series(bo.lo, bo.hi, INTERVAL 1 HOUR))
           AS bucket_start
  FROM keys k, bounds bo
)
SELECT s.key, s.bucket_start,
       coalesce(a.n, 0)::BIGINT AS n,
       a.vmax AS vmax,
       last_value(a.vmax IGNORE NULLS) OVER (
         PARTITION BY s.key ORDER BY s.bucket_start
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vmax_locf
FROM spine s
LEFT JOIN agg a ON a.key = s.key AND a.bucket_start = s.bucket_start
""",
        "user_streaks": """
WITH act AS (
  SELECT DISTINCT user_id AS u, date_trunc('day', ts)::DATE AS d
  FROM events
), isl AS (
  SELECT u, d,
         date_diff('day', DATE '1970-01-01', d)
           - row_number() OVER (PARTITION BY u ORDER BY d) AS isl
  FROM act
), runs AS (
  SELECT u, isl, count(*)::BIGINT AS run FROM isl GROUP BY 1, 2
)
SELECT u AS user_id, sum(run)::BIGINT AS n_active_days,
       max(run)::BIGINT AS longest_streak
FROM runs GROUP BY u
""",
        "corpus_cube": """
SELECT coalesce(source, '(all)') AS source,
       coalesce(lang, '(all)') AS lang,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS sum_chars
FROM documents GROUP BY CUBE (source, lang)
""",
        "event_anomalies": f"""
WITH agg AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS bucket_start,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
), wstats AS (
  SELECT key, bucket_start, n,
         count(*) OVER w AS cnt,
         sum(n) OVER w AS s1,
         sum(n * n) OVER w AS s2
  FROM agg
  WINDOW w AS (PARTITION BY key ORDER BY bucket_start
               ROWS BETWEEN {ANOMALY_TRAILING} PRECEDING
                        AND 1 PRECEDING)
)
SELECT key, bucket_start, n,
       round(CASE WHEN cnt = {ANOMALY_TRAILING}
                   AND (s2::DOUBLE - s1::DOUBLE * s1 / cnt)
                       / (cnt - 1) > 0
                  THEN (n - s1::DOUBLE / cnt)
                       / sqrt((s2::DOUBLE - s1::DOUBLE * s1 / cnt)
                              / (cnt - 1))
             END, 6) AS z
FROM wstats
""",
        "dq_checks": """
SELECT 'not_null' AS "check", 'doc_id' AS col_name,
       count_if(doc_id IS NULL)::BIGINT AS n_bad FROM documents
UNION ALL
SELECT 'not_null', 'text', count_if(text IS NULL)::BIGINT FROM documents
UNION ALL
SELECT 'unique', 'doc_id',
       (count(doc_id) - count(DISTINCT doc_id))::BIGINT FROM documents
UNION ALL
SELECT 'accepted_values', 'lang',
       count_if(lang IS NOT NULL
                AND lang NOT IN ('en', 'fr', 'de', 'es'))::BIGINT
FROM documents
UNION ALL
SELECT 'range', 'n_chars',
       count_if(n_chars IS NOT NULL
                AND (n_chars < 1 OR n_chars > 1000000))::BIGINT
FROM documents
""",
        "readability": """
WITH c AS (
  SELECT doc_id,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS s,
         greatest(len(regexp_extract_all(text, '[A-Za-z]+')), 1)::BIGINT
           AS w,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')),
                  1)::BIGINT AS y
  FROM documents
)
SELECT doc_id, s AS n_sents, w AS n_words, y AS n_syll,
       round(206.835 - 1.015 * (w::DOUBLE / s) - 84.6 * (y::DOUBLE / w),
             4) AS flesch,
       round(0.39 * (w::DOUBLE / s) + 11.8 * (y::DOUBLE / w) - 15.59,
             4) AS fk_grade
FROM c
""",
        "compaction": f"""
SELECT source AS part_key, doc_id AS file_id, n_chars AS bytes,
       floor((sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_chars)::DOUBLE / {COMPACT_TARGET})::BIGINT AS group_id
FROM documents
""",
        "scd2": """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER w AS prev,
         (row_number() OVER w = 1) AS fst
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), st AS (
  SELECT user_id, ts, event_id, event_type
  FROM s WHERE fst OR event_type IS DISTINCT FROM prev
)
SELECT user_id, event_type AS attr, ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       (lead(ts) OVER w2 IS NULL) AS is_current
FROM st
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
        "event_transitions": """
WITH p AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
), c AS (
  SELECT cur, nxt, count(*)::BIGINT AS n
  FROM p WHERE nxt IS NOT NULL GROUP BY 1, 2
)
SELECT cur, nxt, n, n::DOUBLE / sum(n) OVER (PARTITION BY cur) AS p
FROM c
""",
        "active_users": """
SELECT 'day' AS grain, date_trunc('day', ts) AS bucket,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM events GROUP BY 2
UNION ALL
SELECT 'week', date_trunc('week', ts),
       count(DISTINCT user_id)::BIGINT
FROM events GROUP BY 2
UNION ALL
SELECT 'month', date_trunc('month', ts),
       count(DISTINCT user_id)::BIGINT
FROM events GROUP BY 2
""",
        "join_skew": f"""
WITH c AS (
  SELECT user_id::VARCHAR AS key_val, count(*)::BIGINT AS n
  FROM events GROUP BY 1
), t AS (SELECT sum(n)::BIGINT AS tot FROM c)
SELECT key_val, n, n::DOUBLE / t.tot AS share
FROM c, t
ORDER BY n DESC, key_val LIMIT {SKEW_TOPK}
""",
    }
    out["stream_funnel"] = out["event_funnel"]
    out["char_sage"] = edges_ctes + """,
e0 AS (
  SELECT least(t1, t2) AS src, greatest(t1, t2) AS dst,
         count(*)::BIGINT AS w
  FROM pairs WHERE t1 <> t2 GROUP BY 1, 2
),
sym AS (SELECT src AS n, dst AS nb, w FROM e0
        UNION ALL SELECT dst, src, w FROM e0),
feats AS (
  SELECT n AS node, count(*)::BIGINT AS degree,
         sum(w)::DOUBLE AS strength
  FROM sym GROUP BY n
),
nbrf AS (
  SELECT s.n, f.degree, f.strength
  FROM (SELECT DISTINCT n, nb FROM sym) s JOIN feats f ON f.node = s.nb
),
agg AS (
  SELECT n AS node, count(*)::BIGINT AS n_nbrs,
         sum(degree)::DOUBLE / count(degree) AS degree_nbr_mean,
         max(degree) AS degree_nbr_max,
         sum(strength)::DOUBLE / count(strength) AS strength_nbr_mean,
         max(strength) AS strength_nbr_max
  FROM nbrf GROUP BY n
)
SELECT f.node, f.degree, f.strength,
       a.degree_nbr_mean, a.degree_nbr_max,
       a.strength_nbr_mean, a.strength_nbr_max,
       coalesce(a.n_nbrs, 0)::BIGINT AS n_nbrs
FROM feats f LEFT JOIN agg a ON a.node = f.node
"""
    out["triple_provenance"] = edges_ctes + """,
tr AS (
  SELECT doc_id, least(t1, t2) AS subj, 'interacts_with' AS pred,
         greatest(t1, t2) AS obj, count(*)::BIGINT AS weight
  FROM pairs WHERE t1 <> t2 GROUP BY 1, 2, 3, 4
)
SELECT subj, pred, obj,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       sum(weight)::BIGINT AS total_weight,
       array_to_string(list_transform(
         list_slice(list_sort(list(DISTINCT doc_id)), 1, 5),
         x -> x::VARCHAR), ',') AS sample_docs
FROM tr GROUP BY 1, 2, 3
"""
    out["incremental_cc"] = edges_ctes.replace(
        "WITH ", "WITH RECURSIVE ", 1
    ) + """,
e0 AS (
  SELECT DISTINCT least(t1, t2) AS u, greatest(t1, t2) AS v
  FROM pairs WHERE t1 <> t2
),
e AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
verts AS (SELECT DISTINCT u AS x FROM e),
r(x, l) AS (
  SELECT x, x FROM verts
  UNION
  SELECT e.v, r.l FROM r JOIN e ON e.u = r.x
)
SELECT x AS vertex, min(l) AS component FROM r GROUP BY x
"""
    out["event_pivot"] = """
SELECT user_id,
       count_if(event_type = 'click')::BIGINT AS n_click,
       count_if(event_type = 'error')::BIGINT AS n_error,
       count_if(event_type = 'purchase')::BIGINT AS n_purchase,
       count_if(event_type = 'signup')::BIGINT AS n_signup,
       count_if(event_type = 'view')::BIGINT AS n_view
FROM events GROUP BY user_id
"""

    def _prof_sql(where):
        parts = []
        for c in ["doc_id", "text", "lang", "source", "n_chars"]:
            cast = "::VARCHAR" if c in ("doc_id", "n_chars") else ""
            parts.append(
                f"SELECT '{c}' AS col_name, count(*)::BIGINT AS n, "
                f"(count(*) - count({c}))::BIGINT AS n_null, "
                f"count(DISTINCT {c})::BIGINT AS n_distinct, "
                f"min({c}){cast} AS min_val, max({c}){cast} AS max_val "
                f"FROM documents {where}"
            )
        return " UNION ALL ".join(parts)

    _drift_pairs = ", ".join(
        f"po.{s0} AS {s0}_old, pn.{s0} AS {s0}_new"
        for s0 in ["n", "n_null", "n_distinct", "min_val", "max_val"]
    )
    _drift_flag = " OR ".join(
        f"po.{s0} IS DISTINCT FROM pn.{s0}"
        for s0 in ["n", "n_null", "n_distinct", "min_val", "max_val"]
    )
    out["profile_drift"] = f"""
WITH po AS ({_prof_sql('')}),
     pn AS ({_prof_sql("WHERE source <> 'src0'")})
SELECT coalesce(po.col_name, pn.col_name) AS col_name, {_drift_pairs},
       ({_drift_flag}) AS drifted
FROM po FULL OUTER JOIN pn ON po.col_name = pn.col_name
"""
    out["fuzzy_aliases"] = f"""
WITH aug AS (
  SELECT text
         || CASE WHEN doc_id % 7 = 0 THEN ' tablee' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' querry' ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' valu' ELSE '' END AS text
  FROM documents
), v0 AS (
  SELECT DISTINCT lower(u.tok) AS w
  FROM (SELECT regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
        FROM aug),
       LATERAL (SELECT unnest(tl) AS tok) u
), v AS (SELECT w FROM v0 WHERE length(w) >= 4),
k AS (
  SELECT w, substr(w, 1, 2) AS pfx,
         unnest([length(w), length(w) + 1]) AS lk
  FROM v
), cand AS (
  SELECT DISTINCT x.w AS a, y.w AS b
  FROM k x JOIN k y ON x.pfx = y.pfx AND x.lk = y.lk AND x.w < y.w
)
SELECT a, b FROM cand WHERE levenshtein(a, b) <= 1
"""
    # The curation composite reuses the ngram_overlap decontamination
    # SQL verbatim as a subquery (same train/bench convention) and the
    # train-filtered twin of the MinHash cluster + keep-best chain; the
    # split CASE replicates sampling.hash_split's hash ranges.
    out["curated_docs"] = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tk
  FROM documents WHERE doc_id % 10 <> 0
), sh0 AS (
  SELECT doc_id, CASE WHEN len(tk) >= 3
    THEN list_transform(range(1, len(tk) - 1),
                        i -> array_to_string(list_slice(tk, i, i + 2), ' '))
    ELSE [array_to_string(tk, ' ')] END AS shs
  FROM t
), sh AS (
  SELECT DISTINCT doc_id, unnest(shs) AS shingle FROM sh0
), sigs AS (
  SELECT doc_id, j.seed AS seed,
         min(md5(j.seed::VARCHAR || ':' || shingle)) AS sig
  FROM sh, range(0, 8) j(seed) GROUP BY doc_id, j.seed
), bands AS (
  SELECT doc_id, (seed // 2)::INT AS band,
         md5(string_agg(sig, '|' ORDER BY seed)) AS band_key
  FROM sigs GROUP BY doc_id, (seed // 2)::INT
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_a
  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
  GROUP BY c.doc_a, c.doc_b
), dup_pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes na ON na.doc_id = c.doc_a
  JOIN sizes nb ON nb.doc_id = c.doc_b
  WHERE coalesce(i.i, 0)::DOUBLE
        / greatest(na.n + nb.n - coalesce(i.i, 0), 1) >= 0.2
), e AS (
  SELECT doc_a AS u, doc_b AS v FROM dup_pairs
  UNION SELECT doc_b, doc_a FROM dup_pairs
), r(u, l) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 <> 0
  UNION
  SELECT e.v, r.l FROM r JOIN e ON e.u = r.u
), clusters AS (
  SELECT u AS doc_id, min(l) AS cluster_id FROM r GROUP BY u
), qual AS (
  SELECT doc_id, round(quality_score, 6) AS q
  FROM ({_ORACLE_QUALITY}) _qq
), ranked AS (
  SELECT c.doc_id, c.cluster_id,
         row_number() OVER (
           PARTITION BY c.cluster_id
           ORDER BY q.q DESC, c.doc_id ASC) AS rn
  FROM clusters c JOIN qual q ON q.doc_id = c.doc_id
), best AS (
  SELECT cluster_id, doc_id AS best_id FROM ranked WHERE rn = 1
), contam AS (
  SELECT doc_id, frac FROM ({out["ngram_overlap"]}) _ct
)
SELECT c.doc_id, c.cluster_id,
       (c.doc_id = b.best_id)::BIGINT AS keep_dedup,
       q.q AS quality_score,
       ct.frac AS contam_frac,
       ((c.doc_id = b.best_id) AND q.q >= {CURATE_QMIN}
        AND ct.frac < {CURATE_CMAX})::BIGINT AS keep,
       CASE WHEN substr(md5('curate:' || c.doc_id::VARCHAR), 1, 8)
                 < '{_split_bound(0.8)}' THEN 'train'
            WHEN substr(md5('curate:' || c.doc_id::VARCHAR), 1, 8)
                 < '{_split_bound(0.9)}' THEN 'val'
            ELSE 'test' END AS split
FROM clusters c
JOIN best b ON b.cluster_id = c.cluster_id
JOIN qual q ON q.doc_id = c.doc_id
JOIN contam ct ON ct.doc_id = c.doc_id
"""
    # multimodal caption pairs: rebuild the interleaved span layout and
    # apply the same before/after IGNORE NULLS window as the engine
    out["caption_pairs"] = f"""
WITH sp AS (
  SELECT doc_id, 0 AS pos, 'text' AS kind, NULL AS media_ref,
         substr(text, 1, length(text) // 2) AS text
  FROM documents
  UNION ALL
  SELECT doc_id, 1, 'image', 'img://' || doc_id::VARCHAR || '/0', NULL
  FROM documents
  UNION ALL
  SELECT doc_id, 2, 'text', NULL, substr(text, length(text) // 2 + 1)
  FROM documents
  UNION ALL
  SELECT doc_id, 3,
         (['audio','video','image'])[(doc_id % 3 + 1)::INT],
         (['audio','video','image'])[(doc_id % 3 + 1)::INT]
           || '://' || doc_id::VARCHAR || '/1',
         NULL
  FROM documents
), cap AS (
  SELECT doc_id, pos, kind, media_ref,
    last_value(CASE WHEN kind = 'text'
                    THEN substr(text, 1, {CAPTION_SNIPPET}) END
               IGNORE NULLS) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ) AS caption_before,
    first_value(CASE WHEN kind = 'text'
                     THEN substr(text, 1, {CAPTION_SNIPPET}) END
                IGNORE NULLS) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
    ) AS caption_after
  FROM sp
)
SELECT doc_id, pos::BIGINT AS pos, kind, media_ref,
       coalesce(caption_before, '') AS caption_before,
       coalesce(caption_after, '') AS caption_after
FROM cap WHERE kind <> 'text'
"""
    # ANN recall harness: both retrievers on the vec_id<1000 subset,
    # exact top-3 left-joined to the SRP top-3, recall per query
    out["ann_recall"] = """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000),
n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS nrm
  FROM e
), p AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) / (a.nrm * b.nrm)
           AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
), exact AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM p
  ) WHERE rank <= 3
), bk AS (
  SELECT vec_id,
    (SELECT string_agg(CASE WHEN
        list_sum(list_transform(list_zip(embedding, range(0, len(embedding))),
          x -> x[1]::DOUBLE *
               ((('0x' || substr(md5(j.j::VARCHAR || ':' || x[2]::VARCHAR),
                                 1, 1))::INT % 2) * 2 - 1))) > 0
        THEN '1' ELSE '0' END, '' ORDER BY j.j)
     FROM range(0, 8) j(j)) AS bucket
  FROM e
), pb AS (
  SELECT p.vec_id, p.neighbor_id, p.cosine
  FROM p
  JOIN bk a ON a.vec_id = p.vec_id
  JOIN bk b ON b.vec_id = p.neighbor_id AND b.bucket = a.bucket
), ann AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM pb
  ) WHERE rank <= 3
)
SELECT e.vec_id,
       count(*)::BIGINT AS n_true,
       count(a.neighbor_id)::BIGINT AS n_hit,
       round(count(a.neighbor_id) / count(*), 6) AS recall
FROM exact e
LEFT JOIN ann a ON a.vec_id = e.vec_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.vec_id
"""
    # SHACL-lite validation over the occurrence-level resolved triples
    out["kg_shacl"] = rel_ctes + f""",
occ AS (
  SELECT doc_id, subj AS subj_char, rel, obj AS obj_char
  FROM hits WHERE rn = 1 AND subj <> obj
), fv AS (
  SELECT 'functional' AS "constraint", doc_id, rel,
         subj_char AS node, count(DISTINCT obj_char)::BIGINT AS n
  FROM occ WHERE rel = 'scans'
  GROUP BY doc_id, rel, subj_char
  HAVING count(DISTINCT obj_char) > 1
), iv AS (
  SELECT 'inverse_functional' AS "constraint", doc_id, rel,
         obj_char AS node, count(DISTINCT subj_char)::BIGINT AS n
  FROM occ WHERE rel = 'sorts'
  GROUP BY doc_id, rel, obj_char
  HAVING count(DISTINCT subj_char) > 1
), dv AS (
  SELECT 'domain' AS "constraint", doc_id, rel,
         subj_char AS node, count(*)::BIGINT AS n
  FROM occ
  WHERE rel = 'groups'
    AND subj_char NOT IN ({", ".join(f"'{t}'" for t in SHACL_DOMAIN)})
  GROUP BY doc_id, rel, subj_char
)
SELECT * FROM fv UNION ALL SELECT * FROM iv UNION ALL SELECT * FROM dv
"""
    # B-cubed over hypocorism components vs gazetteer family identity,
    # via the cell-count identity (sum over cells of n_cg²/n_side)
    _fam = {n: f for f, n in HYPO_EDGES}
    _fam.update({f: f for f, _ in HYPO_EDGES})
    out["er_bcubed"] = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, u.tok AS token, u.i - 1 AS tok_idx
  FROM (SELECT doc_id,
               regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tl
        FROM documents),
       LATERAL (SELECT unnest(tl) AS tok,
                       generate_subscripts(tl, 1) AS i) u
), hmap(token, name) AS (
  VALUES {", ".join(f"('{t}', '{n}')" for t, n in HYPO_MAP.items())}
), ment AS (
  SELECT t.doc_id, t.tok_idx, h.name
  FROM toks t JOIN hmap h ON h.token = t.token
), names AS (
  SELECT DISTINCT doc_id, name FROM ment
), fam(u, v) AS (
  VALUES {", ".join(f"('{a}', '{b}')" for a, b in HYPO_EDGES)}
), ed AS (
  SELECT a.doc_id, a.name AS u, b.name AS v
  FROM names a
  JOIN names b ON a.doc_id = b.doc_id
  JOIN fam ON (fam.u = a.name AND fam.v = b.name)
           OR (fam.u = b.name AND fam.v = a.name)
), r(doc_id, u, l) AS (
  SELECT doc_id, name, name FROM names
  UNION
  SELECT ed.doc_id, ed.v, r.l
  FROM r JOIN ed ON ed.doc_id = r.doc_id AND ed.u = r.u
), comp AS (
  SELECT doc_id, u AS name, min(l) AS char_id
  FROM r GROUP BY doc_id, u
), gmap(name, gold) AS (
  VALUES {", ".join(f"('{n}', '{g}')" for n, g in sorted(_fam.items()))}
), itm AS (
  SELECT m.doc_id, c.char_id AS sys_id, g.gold AS gold_id
  FROM ment m
  JOIN comp c ON c.doc_id = m.doc_id AND c.name = m.name
  JOIN gmap g ON g.name = m.name
), nc AS (
  SELECT doc_id, sys_id, count(*) AS n_c FROM itm GROUP BY doc_id, sys_id
), ng AS (
  SELECT doc_id, gold_id, count(*) AS n_g FROM itm GROUP BY doc_id, gold_id
), cg AS (
  SELECT doc_id, sys_id, gold_id, count(*) AS n_cg
  FROM itm GROUP BY doc_id, sys_id, gold_id
), s AS (
  SELECT sum(cg.n_cg) AS n,
         sum(cg.n_cg * cg.n_cg / nc.n_c) AS sp,
         sum(cg.n_cg * cg.n_cg / ng.n_g) AS sr
  FROM cg
  JOIN nc ON nc.doc_id = cg.doc_id AND nc.sys_id = cg.sys_id
  JOIN ng ON ng.doc_id = cg.doc_id AND ng.gold_id = cg.gold_id
)
SELECT n::BIGINT AS n_items,
       round(sp / n, 6) AS bcubed_precision,
       round(sr / n, 6) AS bcubed_recall,
       round(2 * (sp / n) * (sr / n) / ((sp / n) + (sr / n)), 6)
         AS bcubed_f1
FROM s
"""
    # SPARQL SELECT modifiers: VALUES restriction + grouped aggregates
    # + HAVING + deterministic ORDER/LIMIT ((n DESC, a) is a total
    # order because a is the group key)
    _vals_sql = ", ".join(f"'{r[0]}'" for r in KG_SELECT_VALUES[1])
    out["kg_select"] = rel_ctes + f""",
g AS (SELECT DISTINCT subj_char AS s, rel AS p, obj_char AS o FROM re)
SELECT s AS a, count(*)::BIGINT AS n,
       count(DISTINCT o)::BIGINT AS partners,
       string_agg(p, ' ' ORDER BY p) AS rels,
       min(o) AS first_partner
FROM g WHERE p IN ({_vals_sql})
GROUP BY s HAVING count(*) >= 2
ORDER BY n DESC, a LIMIT {KG_SELECT_LIMIT}
"""
    out["k_anonymity"] = f"""
SELECT c_mktsegment, c_nationkey,
       floor(c_acctbal / {KANON_BAND})::BIGINT AS acct_band,
       count(*)::BIGINT AS k,
       count(DISTINCT c_name)::BIGINT AS l,
       round(1.0 / count(*), 6) AS risk
FROM customer GROUP BY 1, 2, 3
"""
    # containment over df-capped shingles: the cap defines the
    # vocabulary for numerator AND denominators (exact semantics over
    # the capped set); thresholds compare the ROUNDED scores on both
    # engines so the boundary cannot ulp-flip
    out["containment_dups"] = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_SQL_TOKEN_RE}') AS tk
  FROM documents
), sh0 AS (
  SELECT doc_id, CASE WHEN len(tk) >= {CONTAIN_W}
    THEN list_transform(range(1, len(tk) - {CONTAIN_W - 2}),
         i -> array_to_string(list_slice(tk, i, i + {CONTAIN_W - 1}), ' '))
    ELSE [array_to_string(tk, ' ')] END AS shs
  FROM t
), sh AS (SELECT DISTINCT doc_id, unnest(shs) AS shingle FROM sh0),
keep AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) <= {CONTAIN_MAXDF}
),
rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM rare GROUP BY doc_id),
i AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
  FROM rare a JOIN rare b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, inter, na.n AS n_a, nb.n AS n_b,
       round(inter / na.n, 6) AS cont_a,
       round(inter / nb.n, 6) AS cont_b
FROM i JOIN sizes na ON na.doc_id = doc_a
       JOIN sizes nb ON nb.doc_id = doc_b
WHERE greatest(round(inter / na.n, 6), round(inter / nb.n, 6))
      >= {CONTAIN_T}
"""
    # entity profile page: mention stats from m, graph stats +
    # windowed top-3 partners from the corpus-global edge table
    out["char_profiles"] = edges_ctes + """,
e0 AS (
  SELECT least(t1, t2) AS src, greatest(t1, t2) AS dst,
         count(*)::BIGINT AS w
  FROM pairs WHERE t1 <> t2
  GROUP BY least(t1, t2), greatest(t1, t2)
),
sym AS (SELECT src AS node, dst AS p, w FROM e0
        UNION ALL SELECT dst, src, w FROM e0),
pr AS (
  SELECT node, p, w,
         row_number() OVER (PARTITION BY node
                            ORDER BY w DESC, p) AS rn
  FROM sym
),
gs AS (
  SELECT node, count(*)::BIGINT AS degree, sum(w)::BIGINT AS strength
  FROM sym GROUP BY node
),
tp AS (
  SELECT node, string_agg(p, '|' ORDER BY rn) AS top_partners
  FROM pr WHERE rn <= 3 GROUP BY node
),
ms AS (
  SELECT token AS node, count(*)::BIGINT AS mentions,
         count(DISTINCT doc_id)::BIGINT AS docs
  FROM m GROUP BY token
)
SELECT ms.node, ms.mentions, ms.docs,
       coalesce(gs.degree, 0)::BIGINT AS degree,
       coalesce(gs.strength, 0)::BIGINT AS strength,
       coalesce(tp.top_partners, '') AS top_partners
FROM ms LEFT JOIN gs ON gs.node = ms.node
        LEFT JOIN tp ON tp.node = ms.node
"""
    # threshold sweep over the fs_links scored pairs; full-universe
    # gold count via Σ n·(n-1)/2 over fingerprint groups
    out["er_sweep"] = f"""
WITH scored AS ({fs_sql}),
per AS (
  SELECT fs_weight AS threshold, sum(agree_fp)::BIGINT AS _pos,
         count(*)::BIGINT AS _n
  FROM scored GROUP BY fs_weight
),
tot AS (
  SELECT sum((n * (n - 1)) // 2)::BIGINT AS total FROM (
    SELECT count(*) AS n FROM (
      SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        AS fp
      FROM documents
    ) GROUP BY fp
  )
),
c AS (
  SELECT threshold,
         sum(_pos) OVER (ORDER BY threshold DESC) AS tp,
         sum(_n) OVER (ORDER BY threshold DESC) AS np
  FROM per
)
SELECT c.threshold, c.tp::BIGINT AS tp, (c.np - c.tp)::BIGINT AS fp,
       (tot.total - c.tp)::BIGINT AS fn,
       round(c.tp / greatest(c.np, 1), 6) AS "precision",
       round(c.tp / greatest(tot.total, 1), 6) AS recall,
       round(2 * (c.tp / greatest(c.np, 1))
               * (c.tp / greatest(tot.total, 1))
             / greatest(c.tp / greatest(c.np, 1)
                        + c.tp / greatest(tot.total, 1), 1e-12), 6)
         AS f1
FROM c, tot
"""
    # the metrics oracle is derived from kgrank_sql via str.replace —
    # a drifted template would fail SILENTLY (replace is a no-op), so
    # pin the rollup's presence here
    assert "GROUP BY g.p" in out["kg_lp_metrics"], (
        "kg_lp_metrics rollup replace did not apply"
    )
    return out
