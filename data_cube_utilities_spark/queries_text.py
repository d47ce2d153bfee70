"""Group B driver-contract queries: training-data pipeline operators over
the documents / embeddings tables — dedup (exact, MinHash-LSH, n-gram
Jaccard, SimHash), similarity search (brute cosine, LSH-bucketed ANN), and
text analysis (quality features, language-ID heuristic, token stats,
fingerprinting). Spark side is JVM-only (no Python UDFs); oracles are ANSI
SQL with identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import textops
from .operators.fixpoint import checkpoint
from .queries import _t

N_BANDS = 8
JACCARD_T = 0.8
MAX_DF = 200   # per-block stopword cap for the Jaccard join (scale guard)
TOPK = 10
QUERY_VEC = 0
EMB_DIMS = 64


def q_exact_dedup(spark, sf_dir):
    """Exact dedup: hash-groupBy on md5(text), keeper = min doc_id."""
    return textops.exact_dedup(_t(spark, sf_dir, "documents"))


SQL_EXACT_DEDUP = """
SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates: trigram shingles -> banded min-hash
    signatures -> band-signature self-join."""
    return textops.minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                                     n_bands=N_BANDS)


SQL_MINHASH_LSH = f"""
WITH sh AS (
  SELECT doc_id, unnest([sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]
                         for i in generate_series(1, greatest(len(sp)-2, 0))]) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)
),
sig AS (
  SELECT doc_id, band, min(md5(shingle || '#' || band)) AS sig
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band)
  GROUP BY doc_id, band
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands_shared
FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


def q_ngram_jaccard(spark, sf_dir):
    """Token-set Jaccard near-dup pairs within the same lang block, with
    the per-block document-frequency stopword cap engaged."""
    # driver row ships the exact integer pair stats; the float jaccard is
    # round(inter/union) and can tie on the grid (r3 tie-proof sweep)
    return textops.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=JACCARD_T,
        block_col="lang", max_df=MAX_DF
    ).select("doc_a", "doc_b", "inter", "union_sz")


SQL_NGRAM_JACCARD = f"""
WITH tok0 AS (
  SELECT doc_id AS id, lang AS blk, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
rare AS (SELECT blk, tok FROM tok0 GROUP BY blk, tok HAVING count(*) <= {MAX_DF}),
tok AS (SELECT tok0.id, tok0.blk, tok0.tok FROM tok0 JOIN rare USING (blk, tok)),
sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
inter AS (
  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS i
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.blk = b.blk
  WHERE a.id < b.id GROUP BY a.id, b.id
)
SELECT doc_a, doc_b, CAST(i AS BIGINT) AS inter,
       CAST(sa.sz + sb.sz - i AS BIGINT) AS union_sz
FROM inter
JOIN sizes sa ON sa.id = doc_a
JOIN sizes sb ON sb.id = doc_b
WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= {JACCARD_T}
"""


def q_simhash(spark, sf_dir):
    """64-bit SimHash signatures (two 32-bit halves), generated-SQL twin."""
    return textops.simhash(_t(spark, sf_dir, "documents"))


SQL_SIMHASH = textops.simhash_sql("documents")


def q_quality_score(spark, sf_dir):
    """Doc quality features. Driver row ships the exact integer feature
    components (the ratios/score are rationals over n_tokens and can sit
    on the round grid — r3 tie-proof sweep; the operator still emits them,
    pinned by tests/test_textops)."""
    return textops.quality_features(_t(spark, sf_dir, "documents")) \
        .select("doc_id", "n_tokens", "n_distinct", "n_stop", "n_chars")


SQL_QUALITY = """
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct,
       CAST(len([x for x in toks if x IN ('the', 'a')]) AS INTEGER) AS n_stop,
       CAST(length(text) AS INTEGER) AS n_chars
FROM t
"""


def q_language_id(spark, sf_dir):
    """Marker-token language-ID heuristic with deterministic argmax."""
    return textops.language_scores(_t(spark, sf_dir, "documents"))


def _marker_list_sql(lang: str) -> str:
    toks = ", ".join(f"'{t}'" for t in textops.MARKERS[lang])
    return f"len([x for x in toks if x IN ({toks})])"


SQL_LANGUAGE_ID = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
             {_marker_list_sql('en')} AS score_en,
             {_marker_list_sql('fr')} AS score_fr,
             {_marker_list_sql('de')} AS score_de
      FROM t)
SELECT doc_id, score_en, score_fr, score_de,
       CASE WHEN score_de > greatest(score_en, score_fr) THEN 'de'
            WHEN score_fr > score_en THEN 'fr'
            ELSE 'en' END AS pred_lang
FROM s
"""


def q_corpus_clean(spark, sf_dir):
    """The composed training-corpus cleaning pipeline — the shape the
    group-B operators exist for, as ONE dataflow: exact-dedup keepers ->
    language-ID -> quality gate (n_tokens >= 5) -> per-language corpus
    stats. Three operator joins, all-integer outputs."""
    docs = _t(spark, sf_dir, "documents")
    keep = textops.exact_dedup(docs) \
        .select(F.col("keeper_id").alias("doc_id"))
    lang = textops.language_scores(docs).select("doc_id", "pred_lang")
    qual = textops.quality_features(docs) \
        .select("doc_id", "n_tokens", "n_stop", "n_chars")
    clean = (docs.select("doc_id")
                 .join(keep, "doc_id")
                 .join(lang, "doc_id")
                 .join(qual, "doc_id")
                 .filter(F.col("n_tokens") >= 5))
    return (clean.groupBy("pred_lang")
                 .agg(F.count("*").alias("n_docs"),
                      F.sum("n_tokens").alias("tok_total"),
                      F.sum("n_stop").alias("stop_total"),
                      F.sum("n_chars").alias("char_total")))


SQL_CORPUS_CLEAN = f"""
WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
lang AS (
  SELECT doc_id,
         {_marker_list_sql('en')} AS score_en,
         {_marker_list_sql('fr')} AS score_fr,
         {_marker_list_sql('de')} AS score_de
  FROM t),
pred AS (
  SELECT doc_id,
         CASE WHEN score_de > greatest(score_en, score_fr) THEN 'de'
              WHEN score_fr > score_en THEN 'fr'
              ELSE 'en' END AS pred_lang
  FROM lang),
qual AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len([x for x in toks if x IN ('the', 'a')]) AS n_stop,
         length(text) AS n_chars
  FROM t)
SELECT p.pred_lang, count(*) AS n_docs,
       CAST(sum(q.n_tokens) AS BIGINT) AS tok_total,
       CAST(sum(q.n_stop) AS BIGINT) AS stop_total,
       CAST(sum(q.n_chars) AS BIGINT) AS char_total
FROM keep k
JOIN pred p ON p.doc_id = k.doc_id
JOIN qual q ON q.doc_id = k.doc_id
WHERE q.n_tokens >= 5
GROUP BY p.pred_lang
"""



def q_token_stats(spark, sf_dir):
    """Token counting per source (whitespace tokenizer)."""
    d = textops.with_tokens(_t(spark, sf_dir, "documents"))
    # avg ships as (total_tokens, n_docs) — a rational mean can sit exactly
    # on the round grid (r3 tie-proof sweep)
    return (d.groupBy("source")
             .agg(F.sum(F.size("tokens")).alias("total_tokens"),
                  F.max(F.size("tokens")).alias("max_tokens"),
                  F.count("*").alias("n_docs")))


SQL_TOKEN_STATS = """
SELECT source,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       max(len(string_split(text, ' '))) AS max_tokens,
       count(*) AS n_docs
FROM documents GROUP BY source
"""


def q_bpe_token_stats(spark, sf_dir):
    """BPE-ish pre-tokenizer accounting (the brief's 'whitespace + a
    BPE-ish regex' token counting): per-doc piece counts via one JVM-side
    regexp_extract_all; the oracle runs the identical RE2-safe pattern in
    DuckDB, so the token streams must agree byte-for-byte."""
    return textops.bpe_token_stats(_t(spark, sf_dir, "documents"))


# the pattern opens with an apostrophe (contraction branch) — double it
# for the SQL string literal
_BPE_SQL_PAT = textops.BPE_PRETOKEN_PATTERN.replace("'", "''")

SQL_BPE_TOKEN_STATS = f"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(text, '{_BPE_SQL_PAT}') AS bpe,
         string_split(text, ' ') AS words
  FROM documents
)
SELECT doc_id,
       CAST(len(bpe) AS INT) AS n_bpe_tokens,
       CAST(len(list_distinct(bpe)) AS INT) AS n_bpe_types,
       CAST(len(list_filter(bpe,
             x -> regexp_matches(x, '[\\p{{L}}\\p{{N}}]$'))) AS INT)
           AS n_word_pieces,
       round(len(bpe) / len(words), 6) AS pieces_per_word
FROM t
"""


def q_doc_fingerprint(spark, sf_dir):
    """Winnowing-style trigram fingerprints."""
    return textops.doc_fingerprint(_t(spark, sf_dir, "documents"))


SQL_DOC_FINGERPRINT = """
WITH sh AS (
  SELECT doc_id, unnest([sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]
                         for i in generate_series(1, greatest(len(sp)-2, 0))]) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)
)
SELECT doc_id, min(md5(shingle)) AS fp_min, max(md5(shingle)) AS fp_max,
       count(DISTINCT md5(shingle)) AS n_shingles
FROM sh GROUP BY doc_id
"""


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k against stored vector QUERY_VEC."""
    return textops.cosine_topk(_t(spark, sf_dir, "embeddings"),
                               query_id=QUERY_VEC, k=TOPK)


def _sql_cosine_topk(k: int) -> str:
    """Exact brute-force cosine top-k oracle, parameterized on k — shared
    by cosine_topk and the degenerate-complete IVF configuration."""
    return f"""
WITH e AS (
  SELECT vec_id, v, i FROM (
    SELECT vec_id, unnest(embedding)::DOUBLE AS v,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings)
),
q AS (SELECT i, v AS qv FROM e WHERE vec_id = {QUERY_VEC}),
dots AS (
  SELECT e.vec_id,
         sum(e.v * q.qv) AS dot,
         sqrt(sum(e.v * e.v)) AS na,
         sqrt(sum(q.qv * q.qv)) AS nq
  FROM e JOIN q ON e.i = q.i
  WHERE e.vec_id != {QUERY_VEC}
  GROUP BY e.vec_id
),
r AS (SELECT vec_id, round(dot / (na * nq), 6) AS cosine FROM dots)
SELECT vec_id, cosine,
       row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
FROM r ORDER BY rank LIMIT {k}
"""


SQL_COSINE_TOPK = _sql_cosine_topk(TOPK)


def q_lsh_ann(spark, sf_dir):
    """Banded sign-LSH ANN: (band, key) equi-join then exact cosine."""
    # explicit geometry: the generated literal oracle SQL is fixed at
    # 8x8, so the driver row must not auto-size with the corpus
    return textops.lsh_ann_topk_batch(
        _t(spark, sf_dir, "embeddings"), [QUERY_VEC], dims=EMB_DIMS, k=5,
        planes=textops.PLANES_PER_BAND).drop("query_id")


def _banded_keys_cte() -> str:
    """Shared CTE prefix: per-vector banded sign-LSH keys, generated with
    the same seeded Rademacher planes and left-to-right +-element chains
    as the Arrow kernel (bit-identical doubles on both engines)."""
    keys = textops.lsh_band_key_sqls(EMB_DIMS, "em")
    bands = ", ".join(str(b) for b in range(textops.N_BANDS_LSH))
    return f"""
emt AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS em FROM embeddings),
k AS (
  SELECT vec_id,
         unnest([{bands}]) AS band,
         unnest([{", ".join(keys)}]) AS key
  FROM emt
)"""


SQL_LSH_ANN = f"""
WITH {_banded_keys_cte()},
e AS (SELECT vec_id, unnest(em) AS v, generate_subscripts(em, 1) AS i
      FROM emt),
q AS (SELECT band, key FROM k WHERE vec_id = {QUERY_VEC}),
cand AS (SELECT k.vec_id, count(*) AS n_bands_shared
         FROM k JOIN q USING (band, key)
         WHERE k.vec_id != {QUERY_VEC}
         GROUP BY k.vec_id),
qv AS (SELECT i, v AS qval FROM e WHERE vec_id = {QUERY_VEC}),
dots AS (
  SELECT e.vec_id,
         sum(e.v * qv.qval) AS dot,
         sqrt(sum(e.v * e.v)) AS na,
         sqrt(sum(qv.qval * qv.qval)) AS nq
  FROM e JOIN qv ON e.i = qv.i
  JOIN cand c ON c.vec_id = e.vec_id
  GROUP BY e.vec_id
),
r AS (SELECT d.vec_id, c.n_bands_shared,
             round(d.dot / (d.na * d.nq), 6) AS cosine
      FROM dots d JOIN cand c ON c.vec_id = d.vec_id)
SELECT vec_id, n_bands_shared, cosine,
       row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
FROM r ORDER BY rank LIMIT 5
"""


BATCH_QUERY_IDS = (0, 7, 42, 123, 321)   # present at every sf (ids 0..499+)


def q_lsh_ann_batch(spark, sf_dir):
    """Batch ANN (textops.lsh_ann_topk_batch): five queries at once
    against the LSH-bucketed corpus; per-query top-k = window rank
    partitioned by query id over the bucket-bounded candidates — the
    shape a 100 TB training-data pipeline runs."""
    return textops.lsh_ann_topk_batch(
        _t(spark, sf_dir, "embeddings"), BATCH_QUERY_IDS,
        dims=EMB_DIMS, k=5, planes=textops.PLANES_PER_BAND
    ).drop("n_bands_shared")


def _sql_lsh_ann_batch(probe_bits: int = 0) -> str:
    """Batch-ANN oracle; probe_bits=1 adds the classic multi-probe flips
    (each band key also probed at every one-bit sign flip — the same
    PLANES_PER_BAND xor ladder the Spark operator explodes)."""
    if probe_bits:
        flips = ", ".join(f"xor(key, {1 << j})"
                          for j in range(textops.PLANES_PER_BAND))
        q_cte = f"""q0 AS (SELECT vec_id AS query_id, band, key FROM k
      WHERE vec_id IN {BATCH_QUERY_IDS}),
q AS (SELECT query_id, band, unnest([key, {flips}]) AS key FROM q0)"""
    else:
        q_cte = f"""q AS (SELECT vec_id AS query_id, band, key FROM k
      WHERE vec_id IN {BATCH_QUERY_IDS})"""
    return f"""
WITH {_banded_keys_cte()},
e AS (SELECT vec_id, unnest(em) AS v, generate_subscripts(em, 1) AS i
      FROM emt),
{q_cte},
cand AS (SELECT DISTINCT q.query_id, k.vec_id
         FROM k JOIN q ON k.band = q.band AND k.key = q.key
                       AND k.vec_id != q.query_id),
dots AS (
  SELECT c.query_id, c.vec_id,
         sum(ev.v * qv.v) AS dot,
         sqrt(sum(ev.v * ev.v)) AS na,
         sqrt(sum(qv.v * qv.v)) AS nq
  FROM cand c
  JOIN e ev ON ev.vec_id = c.vec_id
  JOIN e qv ON qv.vec_id = c.query_id AND qv.i = ev.i
  GROUP BY c.query_id, c.vec_id
),
r AS (SELECT query_id, vec_id, round(dot / (na * nq), 6) AS cosine
      FROM dots),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id ASC)
                 AS rank
       FROM r)
SELECT query_id, vec_id, cosine, rank FROM rk WHERE rank <= 5
"""


SQL_LSH_ANN_BATCH = _sql_lsh_ann_batch(0)


def q_lsh_ann_multiprobe(spark, sf_dir):
    """Batch ANN with probe_bits=1 multi-probe: within each band every
    query also probes the PLANES_PER_BAND keys one sign-flip away (the
    most likely homes of a neighbor straddling a hyperplane) — recall
    climbs toward brute force while staying an equi-join. Hard-signal
    twin of the pytest superset property."""
    return textops.lsh_ann_topk_batch(
        _t(spark, sf_dir, "embeddings"), BATCH_QUERY_IDS,
        dims=EMB_DIMS, k=5, probe_bits=1, planes=textops.PLANES_PER_BAND
    ).drop("n_bands_shared")


SQL_LSH_ANN_MULTIPROBE = _sql_lsh_ann_batch(1)


MAX_HAMMING = 3   # pigeonhole-exact for the 4x16-bit banding


def q_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs: banded equi-join candidates + popcount-XOR
    hamming <= 3 (exact recall at this threshold by pigeonhole)."""
    return textops.simhash_near_dup_pairs(_t(spark, sf_dir, "documents"),
                                          max_hamming=MAX_HAMMING)


SQL_SIMHASH_NEAR_DUP = f"""
WITH sig AS ({textops.simhash_sql('documents')}),
e AS (
  SELECT doc_id, simhash_hi, simhash_lo,
         unnest([0, 1, 2, 3]) AS band,
         unnest([simhash_hi // 65536, simhash_hi % 65536,
                 simhash_lo // 65536, simhash_lo % 65536]) AS key
  FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash_hi AS ha, a.simhash_lo AS la,
                  b.doc_id AS doc_b, b.simhash_hi AS hb, b.simhash_lo AS lb
  FROM e a JOIN e b ON a.band = b.band AND a.key = b.key
                    AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT)
         AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= {MAX_HAMMING}
"""


NEARDUP_T = 0.3   # synthetic embeddings are near-random; 0.3 is the tail


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: banded sign-LSH (band, key)
    self-join then exact cosine >= threshold (the fifth dedup mode)."""
    return textops.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=NEARDUP_T, dims=EMB_DIMS,
        planes=textops.PLANES_PER_BAND)


SQL_EMBEDDING_NEAR_DUP = f"""
WITH {_banded_keys_cte()},
e AS (SELECT vec_id, unnest(em) AS v, generate_subscripts(em, 1) AS i
      FROM emt),
cand AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         count(*) AS n_bands_shared
  FROM k x JOIN k y ON x.band = y.band AND x.key = y.key
                    AND x.vec_id < y.vec_id
  GROUP BY 1, 2
),
dots AS (
  SELECT c.vec_a, c.vec_b, c.n_bands_shared,
         sum(ea.v * eb.v) AS dot,
         sqrt(sum(ea.v * ea.v)) AS na,
         sqrt(sum(eb.v * eb.v)) AS nb
  FROM cand c
  JOIN e ea ON ea.vec_id = c.vec_a
  JOIN e eb ON eb.vec_id = c.vec_b AND eb.i = ea.i
  GROUP BY 1, 2, 3
)
SELECT vec_a, vec_b, CAST(n_bands_shared AS BIGINT) AS n_bands_shared,
       round(dot / (na * nb), 6) AS cosine
FROM dots WHERE round(dot / (na * nb), 6) >= {NEARDUP_T}
"""


def q_ivf_ann(spark, sf_dir):
    """IVF ANN: k-means coarse quantizer, exact cosine within n_probe
    lists. The quantizer's sampled Lloyd iterations are not
    SQL-expressible — rows-only driver check; exactness vs brute force is
    pinned in tests/test_textops.py."""
    return textops.ivf_ann_topk_batch(
        _t(spark, sf_dir, "embeddings"), [QUERY_VEC], dims=EMB_DIMS, k=5
    ).drop("query_id")


IVF_LISTS = 8


def q_ivf_ann_exact(spark, sf_dir):
    """IVF ANN in the degenerate-COMPLETE configuration n_probe = n_lists:
    every inverted list is probed, so the result is mathematically
    identical to exact brute-force cosine top-k — which gives the whole
    IVF code path (k-means index build, materialized (vec_id, list_id)
    assignment, probe-list filter, ranked top-k) a true hash oracle
    (VERDICT r4 Next #3). The pruned n_probe < n_lists row (ivf_ann)
    stays rows-only by nature; list_id is engine-internal k-means
    labeling and is projected away here."""
    return textops.ivf_ann_topk_batch(
        _t(spark, sf_dir, "embeddings"), [QUERY_VEC],
        dims=EMB_DIMS, k=5, n_lists=IVF_LISTS, n_probe=IVF_LISTS
    ).select("vec_id", "cosine", "rank")


SQL_IVF_ANN_EXACT = _sql_cosine_topk(5)


def q_contamination(spark, sf_dir):
    """Train/test decontamination: corpus docs sharing >= 2 distinct word
    trigrams with a 'benchmark' probe set (every 50th doc, excluding
    trivial self-pairs) — the n-gram-overlap contamination gate run
    before training.  Probe side broadcasts; corpus fan-out runs at full
    parallelism."""
    docs = _t(spark, sf_dir, "documents")
    probes = (docs.filter(F.col("doc_id") % 50 == 0)
                  .select(F.col("doc_id").alias("probe_id"), "text"))
    out = textops.contamination_pairs(docs, probes, min_shared=2)
    return out.filter(F.col("doc_id") != F.col("probe_id"))


SQL_CONTAMINATION = """
WITH sh AS (
  SELECT doc_id, unnest([sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]
                         for i in generate_series(1, greatest(len(sp)-2, 0))]) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)
),
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
p AS (SELECT DISTINCT doc_id AS probe_id, shingle FROM sh WHERE doc_id % 50 = 0)
SELECT d.doc_id, p.probe_id,
       count(*) AS n_shared_ngrams
FROM d JOIN p ON d.shingle = p.shingle
WHERE d.doc_id != p.probe_id
GROUP BY d.doc_id, p.probe_id
HAVING count(*) >= 2
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition features (top-bigram count, trigram
    duplication) — exact integers, the ratios derive downstream."""
    return textops.repetition_stats(_t(spark, sf_dir, "documents"))


SQL_REPETITION_STATS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
bg AS (
  SELECT doc_id, unnest([sp[i] || ' ' || sp[i+1]
                         for i in generate_series(1, greatest(len(sp)-1, 0))]) AS bg
  FROM t
),
bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
              CAST(max(c) AS BIGINT) AS top_bigram_n
       FROM bc GROUP BY doc_id),
tr AS (
  SELECT doc_id,
         CAST(greatest(len(sp) - 2, 0) AS INT) AS n_trigrams,
         CAST(len(list_distinct([sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]
               for i in generate_series(1, greatest(len(sp)-2, 0))])) AS INT)
             AS n_distinct_trigrams
  FROM t
)
SELECT tr.doc_id,
       coalesce(bs.n_bigrams, 0) AS n_bigrams,
       coalesce(bs.top_bigram_n, 0) AS top_bigram_n,
       tr.n_trigrams, tr.n_distinct_trigrams
FROM tr LEFT JOIN bs ON tr.doc_id = bs.doc_id
"""


def q_char_bigram_familiarity(spark, sf_dir):
    """Perplexity-proxy gate: per-doc sum of corpus-wide char-bigram
    frequencies (exact integers; the tiny global count table broadcasts)."""
    return textops.char_bigram_familiarity(_t(spark, sf_dir, "documents"))


SQL_CHAR_BIGRAM_FAMILIARITY = """
WITH g AS (
  SELECT doc_id, unnest([substr(text, i, 2)
                         for i in generate_series(1, length(text) - 1)]) AS bg
  FROM documents
),
model AS (SELECT bg, count(*) AS corpus_n FROM g GROUP BY bg),
scored AS (
  SELECT g.doc_id, CAST(sum(m.corpus_n) AS BIGINT) AS familiarity_total,
         count(*) AS n_bigrams
  FROM g JOIN model m ON g.bg = m.bg GROUP BY g.doc_id
)
SELECT d.doc_id,
       coalesce(s.familiarity_total, 0) AS familiarity_total,
       coalesce(s.n_bigrams, 0) AS n_bigrams
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


VOCAB_K = 200


def q_bpe_vocab(spark, sf_dir):
    """Vocabulary construction over the BPE pre-tokens: the top-K pieces
    by corpus frequency (ties by piece) — the frequency table a real BPE
    trainer's merge loop starts from.  One explode + count + ranked
    top-K (TakeOrderedAndProject shape)."""
    t = textops.with_bpe_tokens(_t(spark, sf_dir, "documents"))
    counts = (t.select(F.explode("bpe_tokens").alias("piece"))
               .groupBy("piece").agg(F.count("*").alias("n")))
    top = (counts.orderBy(F.col("n").desc(), F.col("piece").asc())
                 .limit(VOCAB_K))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("n").desc(), F.col("piece").asc())
    return top.withColumn("rank", F.row_number().over(w))


SQL_BPE_VOCAB = f"""
WITH t AS (
  SELECT unnest(regexp_extract_all(text, '{_BPE_SQL_PAT}')) AS piece
  FROM documents
),
c AS (SELECT piece, count(*) AS n FROM t GROUP BY piece)
SELECT piece, n,
       row_number() OVER (ORDER BY n DESC, piece ASC) AS rank
FROM c ORDER BY rank LIMIT {VOCAB_K}
"""


def q_dedup_gate(spark, sf_dir):
    """The keyed-state streaming dedup gate, driven through a REAL
    Structured Streaming query (applyInPandasWithState is streaming-only
    in Spark 4): stream the documents table through
    streaming_exact_dedup into a memory sink, then hand the driver the
    settled per-hash rows — which the exact_dedup SQL twin must match.
    Multi-batch state crossing + keeper revision are pytest-pinned
    (tests/test_streaming); this row hash-verifies the operator's
    OUTPUT against DuckDB.

    LOCAL-ONLY sf_dir: Spark's file stream source refuses a direct
    file path ('basePath' must be a directory), so the single-file
    table is symlinked into a temp dir — which requires a POSIX
    filesystem.  Every other registry query takes any URI; against a
    remote store, point the stream at the table's real directory."""
    import os
    import shutil
    import tempfile
    import uuid

    from .streaming import stateful

    src = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))
    d = tempfile.mkdtemp(prefix="dedupgate_src_")
    os.symlink(src, os.path.join(d, "part-00000.parquet"))
    name = "dedupgate_" + uuid.uuid4().hex[:8]
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(d)
    q = (stateful.streaming_exact_dedup(stream)
         .writeStream.format("memory").queryName(name)
         .outputMode("update").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from pyspark.sql import Window
    try:
        emitted = spark.table(name)
        w = Window.partitionBy("text_hash").orderBy(F.col("n_seen").desc())
        # materialize before dropping the memory sink + temp dir: the
        # driver collects later, and repeated registry runs must not
        # accumulate sink tables in driver memory or dirs in /tmp
        return checkpoint(emitted.withColumn("rn", F.row_number().over(w))
                                 .filter("rn = 1").drop("rn"))
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(d, ignore_errors=True)


SQL_DEDUP_GATE = """
SELECT md5(text) AS text_hash, min(doc_id) AS doc_id,
       count(*) AS n_seen
FROM documents GROUP BY md5(text)
"""


def q_phash_gate(spark, sf_dir):
    """The keyed-state streaming NEAR-dup gate (banded 64-bit hash, per-
    bucket keeper, popcount hamming) driven through a real streaming
    query, like q_dedup_gate.  The 60-bit content hash stands in for the
    image table's phash column (conv of 15 md5 hex chars — the
    cross-engine int-from-md5 identity), so near-dup here means exact
    content dup: hamming to the bucket keeper is 0 for copies and the
    oracle recomputes every (band, key, member) row in SQL.  The single
    symlinked file arrives as ONE micro-batch, so arrival-order
    semantics are deterministic; multi-batch keeper revision is
    pytest-pinned in tests/test_streaming."""
    import os
    import shutil
    import tempfile
    import uuid

    from .streaming import stateful

    src = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))
    d = tempfile.mkdtemp(prefix="phgate_src_")
    os.symlink(src, os.path.join(d, "part-00000.parquet"))
    name = "phgate_" + uuid.uuid4().hex[:8]
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema).parquet(d)
              .withColumn("phash",
                          F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
                           .cast("long")))
    q = (stateful.streaming_phash_near_dup(stream, id_col="doc_id")
         .writeStream.format("memory").queryName(name)
         .outputMode("update").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from pyspark.sql import Window
    try:
        emitted = spark.table(name)
        w = (Window.partitionBy("band", "key", "member_id")
                   .orderBy(F.col("n_seen").desc()))
        return checkpoint(emitted.withColumn("rn", F.row_number().over(w))
                                 .filter("rn = 1").drop("rn"))
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(d, ignore_errors=True)


SQL_PHASH_GATE = """
WITH h AS (
  SELECT CAST(doc_id AS VARCHAR) AS member_id,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS phash
  FROM documents
),
e AS (
  SELECT member_id, phash,
         unnest([0, 1, 2, 3]) AS band,
         unnest([phash % 65536,
                 (phash // 65536) % 65536,
                 (phash // 4294967296) % 65536,
                 (phash // 281474976710656) % 65536]) AS key
  FROM h
),
k AS (
  SELECT band, key, member_id, phash,
         row_number() OVER (PARTITION BY band, key ORDER BY member_id)
           AS rn,
         count(*) OVER (PARTITION BY band, key) AS n_seen
  FROM e
),
keep AS (SELECT band, key, member_id AS keeper_id,
                phash AS keeper_phash
         FROM k WHERE rn = 1)
SELECT CAST(k.band AS INT) AS band, k.key, k.member_id, keep.keeper_id,
       CAST(bit_count(xor(k.phash, keep.keeper_phash)) AS INT) AS hamming,
       CAST(k.member_id != keep.keeper_id
            AND bit_count(xor(k.phash, keep.keeper_phash)) <= 3 AS INT)
         AS is_dup,
       k.n_seen
FROM k JOIN keep ON k.band = keep.band AND k.key = keep.key
"""


SAMPLE_MIX = {"src0": 0.5, "src1": 0.25, "src2": 1.0}


def q_deterministic_sample(spark, sf_dir):
    """Reproducible stratified downsampling (training-mix construction):
    md5-bucket filter, no RNG — the identical draw is recomputed by the
    DuckDB twin, which is the whole point of the operator."""
    return textops.deterministic_sample(
        _t(spark, sf_dir, "documents"), fractions=SAMPLE_MIX
    ).select("doc_id", "source")


_MIX_PRED = " OR ".join(
    f"(source = '{s}' AND bucket < {int(f * textops.HASH_BUCKETS)})"
    for s, f in SAMPLE_MIX.items())

SQL_DETERMINISTIC_SAMPLE = f"""
WITH b AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(doc_id || '#v1'), 1, 6)) AS BIGINT) AS bucket
  FROM documents
)
SELECT doc_id, source FROM b WHERE {_MIX_PRED}
"""


def q_image_augment(spark, sf_dir):
    """Image augmentation, hash-verified through the long-form twin:
    an 8x8 pixel grid derives from the part keys (both engines replicate
    it exactly), then the REAL augment_long remap — the same transform
    the binary decode->numpy->encode path applies, pinned equal per op
    by tests/test_multimodal.py — runs for hflip and rot90."""
    from .operators import multimodal

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey") - 1
    base = p.select(
        F.expr("(p_partkey - 1) div 64").alias("img_id"),
        (F.expr("(p_partkey - 1) div 8") % 8).cast("int").alias("py"),
        (k % 8).cast("int").alias("px"),
        ((F.col("p_partkey") * 37) % 4096).alias("val"))
    outs = [multimodal.augment_long(base, op, w=8, h=8)
            .withColumn("op", F.lit(op)) for op in ("hflip", "rot90")]
    return outs[0].unionByName(outs[1]) \
                  .select("img_id", "op", "py", "px", "val")


SQL_IMAGE_AUGMENT = """
WITH base AS (
  SELECT (p_partkey - 1) // 64 AS img_id,
         CAST(((p_partkey - 1) // 8) % 8 AS INT) AS py,
         CAST((p_partkey - 1) % 8 AS INT) AS px,
         (p_partkey * 37) % 4096 AS val
  FROM part
)
SELECT img_id, 'hflip' AS op, py, CAST(7 - px AS INT) AS px, val FROM base
UNION ALL
SELECT img_id, 'rot90' AS op, CAST(7 - px AS INT) AS py,
       CAST(py AS INT) AS px, val FROM base
"""


_TAR_SHARDS = 8


def q_tar_shards(spark, sf_dir):
    """WebDataset tar shard sink, verified END TO END: write the
    documents table (utf-8 payload per doc) into md5-bucketed tar
    shards, read the tars BACK with the shard reader, and hash the
    per-shard manifest (member count, payload bytes, key range) that
    the oracle re-derives from the raw table — the tars must therefore
    contain exactly the right members with exactly the right bytes."""
    import shutil
    import tempfile

    from .operators import multimodal

    d = (_t(spark, sf_dir, "documents")
         .select(F.col("doc_id").cast("string").alias("doc_id"),
                 F.encode("text", "utf-8").alias("payload")))
    out = tempfile.mkdtemp(prefix="tarshards_")
    try:
        multimodal.write_tar_shards(d, out, n_shards=_TAR_SHARDS,
                                    key_col="doc_id",
                                    payload_col="payload",
                                    ext="txt").collect()
        back = multimodal.read_tar_shards(spark, out)
        return checkpoint(back.filter("ext = 'txt'")
                              .groupBy("shard")
                              .agg(F.count("*").alias("n_members"),
                                   F.sum(F.length("data")).alias("data_bytes"),
                                   F.min("key").alias("key_min"),
                                   F.max("key").alias("key_max")))
    finally:
        shutil.rmtree(out, ignore_errors=True)


SQL_TAR_SHARDS = f"""
SELECT CAST(('0x' || substr(md5(doc_id || '#v1'), 1, 6)) AS BIGINT)
         % {_TAR_SHARDS} AS shard,
       count(*) AS n_members,
       CAST(sum(strlen(text)) AS BIGINT) AS data_bytes,
       min(CAST(doc_id AS VARCHAR)) AS key_min,
       max(CAST(doc_id AS VARCHAR)) AS key_max
FROM documents GROUP BY 1
"""


def q_redact_pii(spark, sf_dir):
    """PII scrubbing: the synthetic corpus carries no PII, so the query
    plants a deterministic email + IPv4 + phone into every third doc
    (pure column arithmetic both engines replicate), then runs the real
    redaction operator; the oracle re-derives the identical injection
    and redacts with the same Java/RE2-common patterns."""
    d = _t(spark, sf_dir, "documents")
    pii = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or +1555 01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" from 10.0."), (F.col("doc_id") % 200).cast("string"),
        F.lit(".7"))
    d2 = d.withColumn("text", F.when(F.col("doc_id") % 3 == 0, pii)
                               .otherwise(F.col("text")))
    return textops.redact_pii(d2).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "redacted")


_PII = dict(textops.PII_PATTERNS)

SQL_REDACT_PII = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           text || ' contact user' || doc_id
                || '@mail.example.org or +1555 01'
                || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                || ' from 10.0.' || (doc_id % 200) || '.7'
         ELSE text END AS t0
  FROM documents
),
r1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t0, '{_PII["email"]}')) AS BIGINT)
           AS n_email,
         regexp_replace(t0, '{_PII["email"]}', '<EMAIL>', 'g') AS t1
  FROM t
),
r2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t1, '{_PII["ipv4"]}')) AS BIGINT)
           AS n_ipv4,
         regexp_replace(t1, '{_PII["ipv4"]}', '<IPV4>', 'g') AS t2
  FROM r1
)
SELECT doc_id, n_email, n_ipv4,
       CAST(len(regexp_extract_all(t2, '{_PII["phone"]}')) AS BIGINT)
         AS n_phone,
       regexp_replace(t2, '{_PII["phone"]}', '<PHONE>', 'g') AS redacted
FROM r2
"""


_PACK_W, _PACK_SHARDS = 256, 16


def q_pack_chunks(spark, sf_dir):
    """Sequence packing manifest: documents laid end-to-end in the
    deterministic (md5-shard, id) order, split into fixed 256-token
    chunks — one row per (chunk, doc) span.  Offsets are exact integers
    from a two-level prefix sum (no global sort, no RNG), so the DuckDB
    twin reproduces the manifest bit-for-bit."""
    return textops.pack_chunks(_t(spark, sf_dir, "documents"),
                               window=_PACK_W, n_shards=_PACK_SHARDS)


SQL_PACK_CHUNKS = f"""
WITH d AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         CAST(('0x' || substr(md5(doc_id || '#v1'), 1, 6)) AS BIGINT)
           % {_PACK_SHARDS} AS shard
  FROM documents
  WHERE len(string_split(text, ' ')) > 0
),
o AS (
  SELECT doc_id, n, shard,
         CAST(COALESCE(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS loc
  FROM d
),
st AS (SELECT shard, CAST(sum(n) AS BIGINT) AS tot FROM d GROUP BY shard),
sb AS (
  SELECT shard,
         CAST(COALESCE(sum(tot) OVER (ORDER BY shard
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS base
  FROM st
),
g AS (
  SELECT o.doc_id, o.n, sb.base + o.loc AS off
  FROM o JOIN sb ON o.shard = sb.shard
),
x AS (
  SELECT doc_id, n, off,
         unnest([c for c in
                 generate_series(off // {_PACK_W},
                                 (off + n - 1) // {_PACK_W})]) AS chunk_id
  FROM g
)
SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
       CAST(greatest(off, chunk_id * {_PACK_W})
            - chunk_id * {_PACK_W} AS BIGINT) AS pos_in_chunk,
       CAST(greatest(off, chunk_id * {_PACK_W}) - off AS BIGINT) AS tok_begin,
       CAST(least(off + n, (chunk_id + 1) * {_PACK_W})
            - greatest(off, chunk_id * {_PACK_W}) AS BIGINT) AS n_tok
FROM x
"""


PQ_M = 8          # subspaces (dsub = EMB_DIMS / PQ_M = 8)
PQ_KSUB = 16      # centroids per subspace


def q_pq_adc_topk(spark, sf_dir):
    """Product-quantization ADC top-k with the deterministic first-rows
    codebook (centroid c of subspace s = subvector s of the row with the
    (c+1)-th smallest vec_id), so encode + asymmetric-distance scoring
    are BOTH SQL-expressible and the driver hashes the whole PQ path:
    codebook build, argmin encode with (d2, cidx) tie-break, LUT scoring,
    ranked top-k.  Production indexes swap in pq_codebook_train (k-means
    per subspace) — same encode/score code path, pytest-pinned."""
    return textops.pq_adc_topk_batch(
        _t(spark, sf_dir, "embeddings"), [QUERY_VEC],
        dims=EMB_DIMS, k=TOPK, m=PQ_M, ksub=PQ_KSUB).drop("query_id")


_PQ_DSUB = EMB_DIMS // PQ_M

SQL_PQ_ADC_TOPK = f"""
WITH ev AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         unnest(embedding)::DOUBLE AS val
  FROM embeddings
),
firstk AS (
  SELECT vec_id AS src_id, row_number() OVER (ORDER BY vec_id) - 1 AS cidx
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {PQ_KSUB})
),
cv AS (
  SELECT f.cidx, e.i, e.val FROM ev e JOIN firstk f ON e.vec_id = f.src_id
),
dist AS (
  SELECT v.vec_id, (v.i - 1) // {_PQ_DSUB} AS s, c.cidx,
         sum((v.val - c.val) * (v.val - c.val)) AS d2
  FROM ev v JOIN cv c ON v.i = c.i
  GROUP BY v.vec_id, (v.i - 1) // {_PQ_DSUB}, c.cidx
),
codes AS (
  SELECT vec_id, s, cidx FROM (
    SELECT vec_id, s, cidx,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY d2 ASC, cidx ASC) AS rn
    FROM dist) WHERE rn = 1
),
lut AS (SELECT s, cidx, d2 FROM dist WHERE vec_id = {QUERY_VEC}),
adc AS (
  SELECT codes.vec_id, round(sum(lut.d2), 6) AS adc_d2
  FROM codes JOIN lut ON codes.s = lut.s AND codes.cidx = lut.cidx
  WHERE codes.vec_id != {QUERY_VEC}
  GROUP BY codes.vec_id
)
SELECT vec_id, adc_d2,
       row_number() OVER (ORDER BY adc_d2 ASC, vec_id ASC) AS rank
FROM adc ORDER BY rank LIMIT {TOPK}
"""


def q_ivf_pq_exact(spark, sf_dir):
    """IVF-PQ in the degenerate-COMPLETE configuration: every list probed
    AND a complete codebook (ksub = corpus size, so each subvector
    encodes to an exact-match centroid and ADC == true squared L2) —
    mathematically identical to exact brute-force L2 top-k, giving the
    composed IVF-PQ code path (coarse index, PQ encode, LUT scoring,
    ranked top-k) a true hash oracle, same trick as ivf_ann_exact.
    Production uses pruned lists + trained codebooks + rerank,
    pytest-pinned (test_ivf_pq_*)."""
    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    return textops.ivf_pq_topk(
        emb, query_id=QUERY_VEC, dims=EMB_DIMS, k=TOPK,
        n_lists=IVF_LISTS, n_probe=IVF_LISTS, m=PQ_M, ksub=n
    ).select("vec_id", "adc_d2", "rank")


SQL_IVF_PQ_EXACT = f"""
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         unnest(embedding)::DOUBLE AS val
  FROM embeddings
),
q AS (SELECT i, val AS qval FROM e WHERE vec_id = {QUERY_VEC}),
-- two-level sum (per-subspace partials, then across subspaces) matches
-- the Python path's nested LUT-partial evaluation order, keeping the
-- engines' float noise inside the round-6 guard band
d1 AS (
  SELECT e.vec_id, (e.i - 1) // {_PQ_DSUB} AS s,
         sum((e.val - q.qval) * (e.val - q.qval)) AS d2s
  FROM e JOIN q ON e.i = q.i
  WHERE e.vec_id != {QUERY_VEC}
  GROUP BY e.vec_id, (e.i - 1) // {_PQ_DSUB}
),
d AS (
  SELECT vec_id, round(sum(d2s), 6) AS adc_d2 FROM d1 GROUP BY vec_id
)
SELECT vec_id, adc_d2,
       row_number() OVER (ORDER BY adc_d2 ASC, vec_id ASC) AS rank
FROM d ORDER BY rank LIMIT {TOPK}
"""


def q_phash_near_dup(spark, sf_dir):
    """Banded 64-bit-hash near-dup pairs (textops.hash_near_dup_pairs —
    the image-phash dedup operator; multimodal.image_near_dup_pairs wraps
    it over the image+caption table). Driven here over a DETERMINISTIC
    pseudo-phash both engines derive identically from the part table:
    groups of 4 consecutive part keys share all but the low 2 bits, so
    near-dup pairs exist at every hamming level the operator filters."""
    p = _t(spark, sf_dir, "part")
    # integer div/mod only (Spark `div` truncates, DuckDB `//` floors —
    # identical on the non-negative keys). The group base replicates into
    # the three upper 16-bit bands (x (2^48 + 2^32 + 2^16)) so distinct
    # groups do NOT collide there — an all-zero upper half would turn
    # every band bucket into all-pairs (the degenerate case the banding
    # exists to avoid).
    ph = F.expr("CAST((p_partkey div 4) * 281479271743488 "
                "+ (p_partkey div 4) * 16 + p_partkey % 4 AS BIGINT)")
    imgs = p.select(F.col("p_partkey").alias("img_id"), ph.alias("phash"))
    return textops.hash_near_dup_pairs(
        imgs, id_col="img_id", hash_col="phash", max_hamming=3)


SQL_PHASH_NEAR_DUP = """
WITH imgs AS (
  SELECT p_partkey AS img_id,
         CAST((p_partkey // 4) * 281479271743488
              + (p_partkey // 4) * 16 + p_partkey % 4 AS BIGINT) AS ph
  FROM part),
e AS (
  SELECT img_id, ph,
         unnest([0, 1, 2, 3]) AS band,
         unnest([(ph // 1) % 65536, (ph // 65536) % 65536,
                 (ph // 4294967296) % 65536,
                 (ph // 281474976710656) % 65536]) AS key
  FROM imgs),
cand AS (
  SELECT DISTINCT a.img_id AS id_a, a.ph AS ha, b.img_id AS id_b, b.ph AS hb
  FROM e a JOIN e b ON a.band = b.band AND a.key = b.key
                    AND a.img_id < b.img_id)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
"""


def q_near_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTER resolution: minhash pair graph -> distributed
    connected components (min-label propagation + pointer jumping) ->
    keeper per cluster.  The drop-list the dedup pipeline actually
    ships; oracle closes the same graph with a recursive CTE."""
    return textops.near_dup_clusters(_t(spark, sf_dir, "documents"),
                                     n_bands=N_BANDS)


SQL_NEAR_DUP_CLUSTERS = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, unnest([sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]
                         for i in generate_series(1, greatest(len(sp)-2, 0))]) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)
),
sig AS (
  SELECT doc_id, band, min(md5(shingle || '#' || band)) AS sig
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band)
  GROUP BY doc_id, band
),
pairs AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id < b.doc_id
),
edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
cc AS (
  SELECT u, u AS lab FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, cc.lab FROM edges e JOIN cc ON cc.u = e.v
),
labfin AS (SELECT u AS doc_id, min(lab) AS cluster_id FROM cc GROUP BY u),
final AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labfin l ON d.doc_id = l.doc_id
)
SELECT doc_id, cluster_id,
       CAST(doc_id = cluster_id AS INT) AS is_keeper,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM final
"""


SPAN_W = 10


def q_duplicate_spans(spark, sf_dir):
    """Exact-substring duplication accounting: length-{SPAN_W} token
    windows hashed; per-doc duplicated-window counts (total and
    cross-doc), exact integers."""
    return textops.duplicate_spans(_t(spark, sf_dir, "documents"),
                                   span=SPAN_W)


SQL_DUPLICATE_SPANS = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
w AS (
  SELECT doc_id,
         md5(unnest([array_to_string(sp[i:i+{SPAN_W - 1}], ' ')
              for i in generate_series(1, greatest(len(sp)-{SPAN_W - 1}, 0))])) AS h
  FROM t
),
per AS (SELECT doc_id, h, count(*) AS c FROM w GROUP BY doc_id, h),
gl AS (SELECT h, sum(c) AS tot, count(*) AS n_docs FROM per GROUP BY h),
stats AS (
  SELECT per.doc_id,
         CAST(sum(per.c) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN gl.tot > 1 THEN per.c ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
         CAST(sum(CASE WHEN gl.n_docs > 1 THEN per.c ELSE 0 END) AS BIGINT)
             AS n_cross_dup_spans
  FROM per JOIN gl ON per.h = gl.h GROUP BY per.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_spans, 0) AS n_spans,
       coalesce(s.n_dup_spans, 0) AS n_dup_spans,
       coalesce(s.n_cross_dup_spans, 0) AS n_cross_dup_spans
FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
"""


GRAM_Q = 1000


def q_embedding_gram(spark, sf_dir):
    """Distributed gram matrix (X^T X) over the embeddings, on inputs
    quantized to round(x*1000) so the float64 accumulation is EXACT and
    the oracle hash has no rounding grid: one Arrow crossing per
    partition, shuffle = n_partitions x d^2 tiny rows.  (.5 ties cannot
    occur: x*1000 = m + 0.5 needs x = (2m+1)/2000, whose denominator is
    not a power of two — unrepresentable in binary floating point.)"""
    from .operators import mlops

    e = _t(spark, sf_dir, "embeddings")
    q = e.select(F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * GRAM_Q)).alias("embedding"))
    return mlops.gram_matrix(q, dims=EMB_DIMS)


SQL_EMBEDDING_GRAM = f"""
WITH q AS (
  SELECT [round(CAST(x AS DOUBLE) * {GRAM_Q}) for x in embedding] AS qv
  FROM embeddings WHERE embedding IS NOT NULL
),
idx AS (SELECT unnest(generate_series(1, {EMB_DIMS})) AS d)
SELECT CAST(a.d - 1 AS INT) AS i, CAST(b.d - 1 AS INT) AS j,
       CAST(sum(qv[a.d] * qv[b.d]) AS DOUBLE) AS g
FROM q, idx a, idx b
GROUP BY 1, 2
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: embedding-cosine near-dup pairs
    (banded sign-LSH candidates, exact cosine >= NEARDUP_T) -> the same
    distributed-CC cluster resolution as near_dup_clusters, over the
    embeddings table.  Oracle = the embedding pair SQL feeding a
    recursive-CTE closure."""
    return textops.semantic_dedup_clusters(
        _t(spark, sf_dir, "embeddings"), threshold=NEARDUP_T,
        dims=EMB_DIMS, planes=textops.PLANES_PER_BAND)


SQL_SEMANTIC_DEDUP = f"""
WITH RECURSIVE {_banded_keys_cte()},
e AS (SELECT vec_id, unnest(em) AS v, generate_subscripts(em, 1) AS i
      FROM emt),
cand AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM k x JOIN k y ON x.band = y.band AND x.key = y.key
                    AND x.vec_id < y.vec_id
  GROUP BY 1, 2
),
dots AS (
  SELECT c.vec_a, c.vec_b,
         sum(ea.v * eb.v) AS dot,
         sqrt(sum(ea.v * ea.v)) AS na,
         sqrt(sum(eb.v * eb.v)) AS nb
  FROM cand c
  JOIN e ea ON ea.vec_id = c.vec_a
  JOIN e eb ON eb.vec_id = c.vec_b AND eb.i = ea.i
  GROUP BY 1, 2
),
pr AS (SELECT vec_a, vec_b FROM dots
       WHERE round(dot / (na * nb), 6) >= {NEARDUP_T}),
edges AS (SELECT vec_a AS s, vec_b AS d FROM pr
          UNION SELECT vec_b, vec_a FROM pr),
cc AS (
  SELECT s, s AS lab FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT e2.s, cc.lab FROM edges e2 JOIN cc ON cc.s = e2.d
),
labfin AS (SELECT s AS vec_id, min(lab) AS cluster_id FROM cc GROUP BY s),
final AS (
  SELECT m.vec_id, coalesce(l.cluster_id, m.vec_id) AS cluster_id
  FROM embeddings m LEFT JOIN labfin l ON m.vec_id = l.vec_id
)
SELECT vec_id, cluster_id,
       CAST(vec_id = cluster_id AS INT) AS is_keeper,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM final
"""


def q_tfidf_search(spark, sf_dir):
    """Keyword retrieval over the documents table (textops.tfidf_topk):
    integer-scaled rational TF-IDF, exact int64 scores, ties on doc id.
    The corpus is pruned to matching postings before any shuffle; N
    arrives as one broadcast row; ranking is TakeOrderedAndProject."""
    return textops.tfidf_topk(
        _t(spark, sf_dir, "documents"),
        ["join", "window", "skew"], k=20)


SQL_TFIDF_SEARCH = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
q AS (SELECT * FROM toks WHERE tok IN ('join', 'window', 'skew')),
n AS (SELECT count(*) AS n_docs FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
s AS (
  SELECT tf.doc_id,
         CAST(sum(tf.tf * ((1000000 * n.n_docs) // dfq.df)) AS BIGINT)
           AS score
  FROM tf JOIN dfq USING (tok), n GROUP BY 1)
SELECT doc_id, score FROM s ORDER BY score DESC, doc_id LIMIT 20
"""


def q_repetition_filter(spark, sf_dir):
    """Gopher-style repetition quality gate (textops.repetition_profile
    — the fraction-level superset of q_repetition_stats' counts): per-doc
    top-unigram / top-bigram coverage and duplicated-trigram occupancy —
    exact integer counts, one division per fraction.  The three gram
    orders union into a single long table so the family costs one
    shuffle + one conditional aggregate."""
    return textops.repetition_profile(_t(spark, sf_dir, "documents"))


SQL_REPETITION_FILTER = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
grams AS (
  SELECT doc_id, 1 AS n, unnest(tk) AS g FROM toks
  UNION ALL
  SELECT doc_id, 2 AS n,
         unnest([tk[i] || ' ' || tk[i+1]
                 for i in generate_series(1, greatest(len(tk)-1, 0))]) AS g
  FROM toks
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 for i in generate_series(1, greatest(len(tk)-2, 0))]) AS g
  FROM toks),
c AS (SELECT doc_id, n, g, count(*) AS cnt FROM grams GROUP BY 1, 2, 3),
a AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN n = 1 THEN cnt END) AS BIGINT) AS n_tokens,
         CAST(max(CASE WHEN n = 1 THEN cnt END) AS BIGINT) AS top1_cnt,
         CAST(sum(CASE WHEN n = 2 THEN cnt END) AS BIGINT) AS n_bigrams,
         CAST(max(CASE WHEN n = 2 THEN cnt END) AS BIGINT) AS top2_cnt,
         CAST(sum(CASE WHEN n = 3 THEN cnt END) AS BIGINT) AS n_trigrams,
         CAST(sum(CASE WHEN n = 3 AND cnt >= 2 THEN cnt ELSE 0 END)
              AS BIGINT) AS dup3_occ
  FROM c GROUP BY doc_id)
SELECT doc_id, n_tokens, top1_cnt, n_bigrams, top2_cnt, n_trigrams, dup3_occ,
       CAST(top1_cnt AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE)
         AS top1_frac,
       CAST(top2_cnt AS DOUBLE) / CAST(nullif(n_bigrams, 0) AS DOUBLE)
         AS top2_frac,
       CAST(dup3_occ AS DOUBLE) / CAST(nullif(n_trigrams, 0) AS DOUBLE)
         AS dup3_frac
FROM a
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (textops.decontaminate): the eval set is
    the deterministic doc_id % 50 == 0 slice; every other doc reports the
    fraction of its distinct trigrams that occur anywhere in the eval
    set, plus how many eval docs it hits.  The eval n-gram table is
    broadcast (the realistic 100 TB shape: eval suites are tiny vs the
    corpus), so the corpus side never shuffles before its per-doc agg."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    return textops.decontaminate(train, bench, n=3)


SQL_DECONTAMINATE = """
WITH tk AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
g AS (
  SELECT doc_id,
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 for i in generate_series(1, greatest(len(tk)-2, 0))]) AS g
  FROM tk),
bg AS (SELECT DISTINCT doc_id AS bench_doc, g FROM g WHERE doc_id % 50 = 0),
tg AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id % 50 <> 0),
j AS (SELECT tg.doc_id, tg.g, bg.bench_doc FROM tg LEFT JOIN bg USING (g))
SELECT doc_id,
       CAST(count(DISTINCT g) AS BIGINT) AS n_grams,
       CAST(count(DISTINCT CASE WHEN bench_doc IS NOT NULL THEN g END)
            AS BIGINT) AS n_contaminated,
       CAST(count(DISTINCT bench_doc) AS BIGINT) AS n_bench_docs_hit,
       CAST(count(DISTINCT CASE WHEN bench_doc IS NOT NULL THEN g END)
            AS DOUBLE)
         / CAST(nullif(count(DISTINCT g), 0) AS DOUBLE)
         AS contamination_frac
FROM j GROUP BY doc_id
"""


def q_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test split accounting
    (textops.split_summary): content-hash buckets assign splits so
    exact duplicates can never straddle train/test; the summary is one
    partial-aggregating shuffle on (split, lang)."""
    return textops.split_summary(_t(spark, sf_dir, "documents"))


SQL_LEAKAGE_SPLIT = f"""
WITH b AS (
  SELECT lang, text,
         CAST(('0x' || substr(md5(text || '#v1'), 1, 6)) AS BIGINT) AS bucket
  FROM documents),
s AS (
  SELECT lang, text,
         CASE WHEN bucket < {int(0.8 * 16 ** 6)} THEN 'train'
              WHEN bucket < {int(0.9 * 16 ** 6)} THEN 'val'
              ELSE 'test' END AS split
  FROM b)
SELECT split, lang, count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_distinct_texts,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM s GROUP BY split, lang
"""


def q_rag_chunks(spark, sf_dir):
    """Overlapping-window chunking (textops.chunk_documents): 32-token
    windows at stride 24 (8-token overlap), trailing partial kept;
    emits exact span integers + md5 of each chunk — map-side only, no
    shuffle.  The splitter dual of pack_chunks' concatenator."""
    return textops.chunk_documents(_t(spark, sf_dir, "documents"),
                                   window=32, stride=24)


SQL_RAG_CHUNKS = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents),
n AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
e AS (
  SELECT doc_id, tk, n,
         unnest(generate_series(0, (greatest(n - 32, 0) + 23) // 24))
           AS chunk_idx
  FROM n)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * 24 AS BIGINT) AS start_tok,
       CAST(len(tk[chunk_idx*24 + 1 : chunk_idx*24 + 32]) AS BIGINT)
         AS n_tok,
       md5(array_to_string(tk[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' '))
         AS chunk_hash
FROM e
"""


def q_oov_rate(spark, sf_dir):
    """Tokenizer-coverage gate (textops.oov_stats): per-doc OOV rate
    against the corpus' own deterministic top-30 vocabulary
    ((count desc, token asc) tie-break — re-derivable in any engine);
    vocab broadcast, exact integers, one division."""
    return textops.oov_stats(_t(spark, sf_dir, "documents"), vocab_k=30)


SQL_OOV_RATE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ORDER BY cnt DESC, tok ASC LIMIT 30)),
j AS (
  SELECT t.doc_id, t.tok, v.tok AS vt
  FROM toks t LEFT JOIN vocab v ON v.tok = t.tok)
SELECT doc_id, count(*) AS n_tok,
       CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS oov_frac
FROM j GROUP BY doc_id
"""


def q_domain_gate(spark, sf_dir):
    """Domain-level corpus gate (textops.domain_gate): per-source dedup
    ratio + mean-length window, thresholds cross-multiplied so the gate
    is pure integer comparison (dup_docs*100 <= 20*n_docs; 30*n_docs <=
    sum_chars <= 2000*n_docs on the driver corpus).  The wholesale
    domain drop per-doc filters cannot express."""
    return textops.domain_gate(_t(spark, sf_dir, "documents"),
                               max_dup_pct=20, min_mean_chars=30,
                               max_mean_chars=2000)


SQL_DOMAIN_GATE = """
WITH agg AS (
  SELECT source, count(*) AS n_docs,
         count(DISTINCT md5(text)) AS n_unique_texts,
         sum(length(text)) AS sum_chars,
         count(DISTINCT lang) AS n_langs
  FROM documents GROUP BY source)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_unique_texts AS BIGINT) AS n_unique_texts,
       CAST(n_docs - n_unique_texts AS BIGINT) AS dup_docs,
       CAST(sum_chars AS BIGINT) AS sum_chars,
       CAST(n_langs AS BIGINT) AS n_langs,
       (n_docs - n_unique_texts) * 100 <= 20 * n_docs AS ok_dup,
       30 * n_docs <= sum_chars AND sum_chars <= 2000 * n_docs AS ok_len,
       ((n_docs - n_unique_texts) * 100 <= 20 * n_docs)
         AND (30 * n_docs <= sum_chars AND sum_chars <= 2000 * n_docs)
         AS keep
FROM agg
"""


def q_fuzzy_join(spark, sf_dir):
    """Blocked Levenshtein fuzzy self-join (textops.fuzzy_self_join)
    over supplier names, max_dist=2: (first char, length band) equi-
    blocking, native DP levenshtein in both engines.  Supplier names
    differ only in their digit tail, so the result is the exact set of
    id pairs within two digit edits — a known-structure stress of the
    blocking."""
    sup = _t(spark, sf_dir, "supplier")
    return textops.fuzzy_self_join(sup, id_col="s_suppkey",
                                   text_col="s_name", max_dist=2)


SQL_FUZZY_JOIN = """
WITH base AS (
  SELECT s_suppkey AS id, s_name AS s,
         substr(s_name, 1, 1) AS c,
         length(s_name) // 3 AS band
  FROM supplier),
probe AS (
  SELECT id AS id_r, s AS s_r, c, band + d.d AS band
  FROM base CROSS JOIN (VALUES (-1), (0), (1)) d(d))
SELECT l.id AS id_a, p.id_r AS id_b,
       CAST(levenshtein(l.s, p.s_r) AS INTEGER) AS dist,
       CAST(length(l.s) AS BIGINT) AS len_a,
       CAST(length(p.s_r) AS BIGINT) AS len_b
FROM base l JOIN probe p ON p.c = l.c AND p.band = l.band
WHERE l.id < p.id_r
  AND abs(length(l.s) - length(p.s_r)) <= 2
  AND levenshtein(l.s, p.s_r) <= 2
"""




def q_blocking_eval(spark, sf_dir):
    """Blocking metrology (textops.blocking_eval) on documents: truth =
    same sorted-token multiset (reorder-invariant duplicates), candidate
    blocking = (lang, first token) — reduction ratio vs pair
    completeness as exact Q20, all from group-size sums (no pair set
    ever materialized)."""
    from pyspark.sql import functions as F

    from .operators import textops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    truth = F.md5(F.concat_ws(" ", F.array_sort(toks)))
    block = F.concat_ws("|", F.col("lang"), F.element_at(toks, 1))
    return textops.blocking_eval(docs, truth, block)


SQL_BLOCKING_EVAL = """
WITH base AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
           AS tk,
         concat_ws('|', lang, string_split(text, ' ')[1]) AS bk
  FROM documents),
tp AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_truth_pairs
       FROM (SELECT count(*) AS n FROM base GROUP BY tk) g),
cp AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_cand_pairs
       FROM (SELECT count(*) AS n FROM base GROUP BY bk) g),
xp AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_captured_pairs
       FROM (SELECT count(*) AS n FROM base GROUP BY tk, bk) g),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM base)
SELECT n_docs, n_truth_pairs, n_cand_pairs, n_captured_pairs,
       CAST(CASE WHEN n_docs * (n_docs - 1) // 2 > 0 THEN
         ((n_docs * (n_docs - 1) // 2 - n_cand_pairs) * 1048576)
         // (n_docs * (n_docs - 1) // 2) END AS BIGINT)
         AS reduction_ratio_q20,
       CAST(CASE WHEN n_truth_pairs > 0 THEN
         (n_captured_pairs * 1048576) // n_truth_pairs END AS BIGINT)
         AS pair_completeness_q20
FROM nd, tp, cp, xp
"""


GROUP_B = {
    "oov_rate": (q_oov_rate, SQL_OOV_RATE),
    "domain_gate": (q_domain_gate, SQL_DOMAIN_GATE),
    "fuzzy_join": (q_fuzzy_join, SQL_FUZZY_JOIN),
    "rag_chunks": (q_rag_chunks, SQL_RAG_CHUNKS),
    "leakage_split": (q_leakage_split, SQL_LEAKAGE_SPLIT),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "repetition_filter": (q_repetition_filter, SQL_REPETITION_FILTER),
    "tfidf_search": (q_tfidf_search, SQL_TFIDF_SEARCH),
    "exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
    "semantic_dedup": (q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    "embedding_gram": (q_embedding_gram, SQL_EMBEDDING_GRAM),
    "minhash_lsh": (q_minhash_lsh, SQL_MINHASH_LSH),
    "near_dup_clusters": (q_near_dup_clusters, SQL_NEAR_DUP_CLUSTERS),
    "duplicate_spans": (q_duplicate_spans, SQL_DUPLICATE_SPANS),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "simhash": (q_simhash, SQL_SIMHASH),
    "quality_score": (q_quality_score, SQL_QUALITY),
    "corpus_clean": (q_corpus_clean, SQL_CORPUS_CLEAN),
    "language_id": (q_language_id, SQL_LANGUAGE_ID),
    "token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "bpe_token_stats": (q_bpe_token_stats, SQL_BPE_TOKEN_STATS),
    "bpe_vocab": (q_bpe_vocab, SQL_BPE_VOCAB),
    "contamination": (q_contamination, SQL_CONTAMINATION),
    "repetition_stats": (q_repetition_stats, SQL_REPETITION_STATS),
    "deterministic_sample": (q_deterministic_sample, SQL_DETERMINISTIC_SAMPLE),
    "pack_chunks": (q_pack_chunks, SQL_PACK_CHUNKS),
    "redact_pii": (q_redact_pii, SQL_REDACT_PII),
    "tar_shards": (q_tar_shards, SQL_TAR_SHARDS),
    "image_augment": (q_image_augment, SQL_IMAGE_AUGMENT),
    "char_bigram_familiarity": (q_char_bigram_familiarity, SQL_CHAR_BIGRAM_FAMILIARITY),
    "dedup_gate": (q_dedup_gate, SQL_DEDUP_GATE),
    "phash_gate": (q_phash_gate, SQL_PHASH_GATE),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "lsh_ann": (q_lsh_ann, SQL_LSH_ANN),
    "lsh_ann_batch": (q_lsh_ann_batch, SQL_LSH_ANN_BATCH),
    "lsh_ann_multiprobe": (q_lsh_ann_multiprobe, SQL_LSH_ANN_MULTIPROBE),
    "embedding_near_dup": (q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    "simhash_near_dup": (q_simhash_near_dup, SQL_SIMHASH_NEAR_DUP),
    "ivf_ann": (q_ivf_ann, None),
    "ivf_ann_exact": (q_ivf_ann_exact, SQL_IVF_ANN_EXACT),
    "pq_adc_topk": (q_pq_adc_topk, SQL_PQ_ADC_TOPK),
    "ivf_pq_exact": (q_ivf_pq_exact, SQL_IVF_PQ_EXACT),
    "phash_near_dup": (q_phash_near_dup, SQL_PHASH_NEAR_DUP),
    "blocking_eval": (q_blocking_eval, SQL_BLOCKING_EVAL),
}
