"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes every implemented operator family from SURVEY.md §2
plus the training-data-pipeline operators (dedup, similarity, text
analysis).  Each has an exact DuckDB oracle in `oracle_sql()`; the
cross-engine determinism rules are:

* string construction / splitting uses only '\\n' and ASCII spaces, where
  Spark and DuckDB semantics coincide exactly;
* hashes are 60-bit md5-prefix parses (identical in both engines);
* set-similarity thresholds are rational INTEGER comparisons
  (den*|A∩B| >= num*|A∪B|) — no floats;
* float work (cosine) casts to double first and folds LEFT from 0.0, so
  IEEE determinism gives bit-identical doubles in both engines.

The extraction queries synthesize per-document page text from the
`documents` table inside the query (deterministically, same expression in
both dialects) so the reference's F6–F16 semantics are cross-checked
against an independent engine — the byte-identity gate vs the reference's
own fixtures additionally runs in pytest (tests/test_byte_identity.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the rows across the full core count before a CPU-dense
    per-row map stage (gram hashing, minhash signatures, simhash folds).

    The sf* test tables are single small parquet files — one row group, so
    the scan yields 1-2 unsplittable partitions and a per-row-expensive
    map stage runs on 2 of 32 cores.  At production scale the input has
    thousands of splits and this repartition is a no-op by construction
    (the exchange moves exactly the columns the map consumes, once); on
    the small-file benchmark corpora it is the difference between 2-way
    and 32-way parallelism for the dominant stage.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


# ---------------------------------------------------------------------------
# Shared page-text construction (both dialects, char-for-char identical)
# ---------------------------------------------------------------------------

def _page_col():
    nl = F.lit("\n")
    return F.concat(
        F.lit("Title: "), F.col("source"), F.lit(" report "),
        F.col("doc_id").cast("string"), nl,
        F.lit("Lang: "), F.col("lang"), nl,
        F.lit("plain line without separator"), nl,
        F.lit("Time: 12:30:45"), nl,
        F.lit("Body: "), F.expr("substring(text, 1, 80)"), nl,
        F.lit("Chars: "), F.col("n_chars").cast("string"), nl,
        F.lit("Lang: "), F.col("lang"), F.lit("-dup"),
    )


_DK_PAGE = (
    "'Title: ' || source || ' report ' || CAST(doc_id AS VARCHAR) || chr(10) || "
    "'Lang: ' || lang || chr(10) || "
    "'plain line without separator' || chr(10) || "
    "'Time: 12:30:45' || chr(10) || "
    "'Body: ' || substr(text, 1, 80) || chr(10) || "
    "'Chars: ' || CAST(n_chars AS VARCHAR) || chr(10) || "
    "'Lang: ' || lang || '-dup'"
)

_DK_KV_AGG = f"""
WITH pages AS (
  SELECT doc_id, {_DK_PAGE} AS page FROM documents
),
lines AS (
  SELECT doc_id, u.line_no, u.line FROM (
    SELECT doc_id,
           unnest(list_transform(string_split(page, chr(10)),
                                 (s, i) -> {{'line_no': i - 1, 'line': trim(s)}})) AS u
    FROM pages)
),
kv AS (
  SELECT doc_id, line_no,
         trim(substr(line, 1, strpos(line, ':') - 1)) AS field,
         trim(substr(line, strpos(line, ':') + 1)) AS value
  FROM lines WHERE strpos(line, ':') > 0
),
agg AS (
  SELECT doc_id, field, arg_max(value, line_no) AS value, min(line_no) AS first_line
  FROM kv GROUP BY doc_id, field
)
"""

_DK_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_DK_HASH60 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS UBIGINT)::BIGINT"


def _dk_grams_all(n: int, toks: str = "toks") -> str:
    return (
        f"[array_to_string(list_slice({toks}, j+1, j+{n}), ' ') "
        f"for j in range(CASE WHEN len({toks}) >= {n} THEN len({toks}) - {n} + 1 ELSE 0 END)]"
    )


def _dk_grams(n: int, toks: str = "toks") -> str:
    return f"list_distinct({_dk_grams_all(n, toks)})"


# ---------------------------------------------------------------------------
# Extraction family (SURVEY §2 F4–F16)
# ---------------------------------------------------------------------------

def q_extract_kv_kernel(spark, sf_dir):
    """Same semantics through the Arrow-batched Python kernel (F6–F10)."""
    from pdf_extraction_spark.operators.extract import extract_fields_long

    pages = _load(spark, sf_dir, "documents").select(
        F.col("doc_id"), _page_col().alias("page")
    )
    out = extract_fields_long(pages, "doc_id", "page")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "field",
        "value",
        F.col("ord").cast("long").alias("ord"),
    )


_ORACLE_KV = (
    _DK_KV_AGG
    + """
SELECT doc_id, field, value,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY first_line) - 1 AS BIGINT) AS ord
FROM agg
"""
)


def q_extract_kv_wide(spark, sf_dir):
    """F14 pivot long->wide (export-scale), fixed column set."""
    kv = q_extract_kv_kernel(spark, sf_dir)
    return kv.groupBy("doc_id").agg(
        F.max(F.when(F.col("field") == "Title", F.col("value"))).alias("title"),
        F.max(F.when(F.col("field") == "Lang", F.col("value"))).alias("lang_field"),
        F.max(F.when(F.col("field") == "Body", F.col("value"))).alias("body"),
        F.max(F.when(F.col("field") == "Chars", F.col("value"))).alias("chars_field"),
        F.max(F.when(F.col("field") == "Time", F.col("value"))).alias("time_field"),
    )


_ORACLE_KV_WIDE = (
    _DK_KV_AGG
    + """
SELECT doc_id,
       max(CASE WHEN field = 'Title' THEN value END) AS title,
       max(CASE WHEN field = 'Lang'  THEN value END) AS lang_field,
       max(CASE WHEN field = 'Body'  THEN value END) AS body,
       max(CASE WHEN field = 'Chars' THEN value END) AS chars_field,
       max(CASE WHEN field = 'Time'  THEN value END) AS time_field
FROM agg GROUP BY doc_id
"""
)


def q_extract_prompt_truncate(spark, sf_dir):
    """F5 no-separator concat + F16 [:3000] truncate + prompt assembly."""
    d = _load(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), F.expr("substring(text, 1, 200)")).alias("raw")
    )
    prompt = F.concat(
        F.lit("Task: summarize\n\nPDF Content:\n"), F.expr("substring(raw, 1, 3000)")
    )
    return d.select(
        "doc_id",
        prompt.alias("prompt"),
        F.length(prompt).cast("long").alias("prompt_len"),
        (F.length("raw") > 3000).alias("was_truncated"),
    )


_ORACLE_PROMPT = """
WITH d AS (SELECT doc_id, text || substr(text, 1, 200) AS raw FROM documents)
SELECT doc_id,
       'Task: summarize' || chr(10) || chr(10) || 'PDF Content:' || chr(10)
         || substr(raw, 1, 3000) AS prompt,
       CAST(length('Task: summarize' || chr(10) || chr(10) || 'PDF Content:' || chr(10)
         || substr(raw, 1, 3000)) AS BIGINT) AS prompt_len,
       length(raw) > 3000 AS was_truncated
FROM d
"""


def q_filter_nonempty_by_lang(spark, sf_dir):
    """F6 empty-document guard as a relational filter + count."""
    d = _load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.length(F.trim("text")) > 0, 1).otherwise(0)).alias("n_nonempty"),
    )


_ORACLE_NONEMPTY = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN length(trim(text)) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonempty
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Text analysis (training-data curation operators)
# ---------------------------------------------------------------------------

def q_sample_stratified(spark, sf_dir):
    """Deterministic per-source sampling (mixing weights): src0 kept at
    80%, src1 at 25%, everything else at 50% — md5-hash decision, so the
    DuckDB twin selects the byte-identical subset."""
    from pdf_extraction_spark.operators.sampling import hash_stratified_sample

    out = hash_stratified_sample(
        _load(spark, sf_dir, "documents"),
        "doc_id",
        "source",
        {"src0": 8000, "src1": 2500},
        default_bp=5000,
    )
    return out.select("doc_id", "source", "lang")


_ORACLE_SAMPLE = """
SELECT doc_id, source, lang FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000
      < CASE source WHEN 'src0' THEN 8000 WHEN 'src1' THEN 2500 ELSE 5000 END
"""


def q_token_budget_pack(spark, sf_dir):
    """Per-source greedy token-budget packing (epoch budgeting): walk each
    source in doc_id order, keep docs while the running token total stays
    within 1000 tokens."""
    from pdf_extraction_spark.operators.sampling import token_budget_pack

    return token_budget_pack(
        _load(spark, sf_dir, "documents"), "doc_id", "text", "source", 1000
    )


_ORACLE_BUDGET = f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({_DK_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM t
)
SELECT * FROM c WHERE cum_tokens <= 1000
"""


def q_chunk_documents(spark, sf_dir):
    """Context-window chunking: 64-token windows with 8-token overlap,
    final short tail kept, one row per chunk."""
    from pdf_extraction_spark.operators.sampling import chunk_documents

    return chunk_documents(
        _load(spark, sf_dir, "documents"), "doc_id", "text",
        chunk_tokens=64, overlap=8,
    )


_ORACLE_CHUNKS = f"""
WITH t AS (SELECT doc_id, {_DK_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id, toks, len(toks) AS n,
         greatest(1, CAST(floor(CAST(len(toks) - 9 AS DOUBLE) / 56) AS INT) + 1) AS k
  FROM t
),
c AS (SELECT doc_id, toks, n, unnest(range(k)) AS cid FROM m)
SELECT doc_id,
       CAST(cid AS BIGINT) AS chunk_id,
       CAST(cid*56 AS BIGINT) AS chunk_start,
       CAST(least(64, n - cid*56) AS BIGINT) AS chunk_n_tokens,
       array_to_string(list_slice(toks, CAST(cid*56 + 1 AS INT), CAST(cid*56 + 64 AS INT)), ' ') AS chunk_text
FROM c
"""


def q_quality_filter(spark, sf_dir):
    """C4-style keep/drop gate with reasons — the composition of the
    curation signals (length, quality score, language markers) into the
    decision a training-data pipeline actually applies."""
    from pdf_extraction_spark.operators.text_analysis import quality_filter

    return quality_filter(
        _load(spark, sf_dir, "documents"), "doc_id", "text",
        min_tokens=10, min_score=50,
    )


def _dk_quality_filter_sql() -> str:
    from pdf_extraction_spark.operators.text_analysis import LANG_MARKERS

    markers = sorted({m for ms in LANG_MARKERS.values() for m in ms})
    in_list = ", ".join(f"'{m}'" for m in markers)
    return f"""
WITH t AS (SELECT doc_id, {_DK_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id, len(toks) AS n,
         len(list_distinct(toks)) AS d,
         len(list_filter(toks, x -> x IN ('a','and','in','of','the'))) AS sw,
         len(list_filter(toks, x -> x IN ({in_list}))) AS mh
  FROM t
),
sc AS (
  SELECT doc_id, n, mh,
         least(40, n)
           + least(30, floor(CAST(d * 30 AS DOUBLE) / greatest(n, 1)))
           + least(30, floor(CAST(sw * 300 AS DOUBLE) / greatest(n, 1))) AS score
  FROM s
),
r AS (
  SELECT doc_id, concat_ws(',',
           CASE WHEN n < 10 THEN 'too_short' END,
           CASE WHEN score < 50 THEN 'low_quality' END,
           CASE WHEN mh = 0 THEN 'und_lang' END) AS drop_reasons
  FROM sc
)
SELECT doc_id, (drop_reasons = '') AS keep, drop_reasons FROM r
"""


_ORACLE_QUALITY_FILTER = _dk_quality_filter_sql()


def q_lang_id(spark, sf_dir):
    from pdf_extraction_spark.operators.text_analysis import lang_id

    out = lang_id(_load(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "doc_id", "pred_lang", F.col("marker_hits").cast("long").alias("marker_hits")
    )


_ORACLE_LANG_ID = f"""
WITH t AS (SELECT doc_id, {_DK_TOKS} AS toks FROM documents),
h AS (
  SELECT doc_id,
         len(list_filter(toks, x -> x IN ('the','and','of','to','in'))) AS h_en,
         len(list_filter(toks, x -> x IN ('der','die','und','das','nicht'))) AS h_de,
         len(list_filter(toks, x -> x IN ('le','la','les','et','des'))) AS h_fr,
         len(list_filter(toks, x -> x IN ('el','los','las','una','para'))) AS h_es
  FROM t
)
SELECT doc_id,
       CASE WHEN h_en >= 1 AND h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
            WHEN h_de >= 1 AND h_de >= h_fr AND h_de >= h_es THEN 'de'
            WHEN h_fr >= 1 AND h_fr >= h_es THEN 'fr'
            WHEN h_es >= 1 THEN 'es'
            ELSE 'und' END AS pred_lang,
       CAST(CASE WHEN h_en >= 1 AND h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN h_en
            WHEN h_de >= 1 AND h_de >= h_fr AND h_de >= h_es THEN h_de
            WHEN h_fr >= 1 AND h_fr >= h_es THEN h_fr
            WHEN h_es >= 1 THEN h_es
            ELSE 0 END AS BIGINT) AS marker_hits
FROM h
"""


def q_fingerprint_winnow(spark, sf_dir):
    """Winnowing sketch (k=5 grams, window=4), exploded to rows."""
    from pdf_extraction_spark.operators.text_analysis import fingerprint_winnow

    out = fingerprint_winnow(
        _spread(_load(spark, sf_dir, "documents")), "doc_id", "text", k=5, window=4
    )
    return out.select("doc_id", F.explode("winnow_prints").alias("print"))


_ORACLE_WINNOW = f"""
WITH t AS (SELECT doc_id, {_DK_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, {_dk_grams_all(5)} AS grams FROM t),
h AS (SELECT doc_id, [{_DK_HASH60.format(x='g')} for g in grams] AS hashes FROM g),
p AS (
  SELECT doc_id,
         CASE WHEN len(hashes) >= 4 THEN
                list_distinct([list_min(list_slice(hashes, w+1, w+4))
                               for w in range(len(hashes) - 4 + 1)])
              WHEN len(hashes) > 0 THEN [list_min(hashes)]
              ELSE [] END AS prints
  FROM h
)
SELECT doc_id, unnest(prints) AS print FROM p
"""


def q_token_stats_bpe(spark, sf_dir):
    """BPE-style pre-tokenization counts (GPT-2 pre-tokenizer shape made
    lookahead-free so Java regex and RE2 agree).  A constructed suffix
    adds contractions, digits, and punctuation so every alternation
    branch fires on every row, not just the letter-run branch the plain
    corpus would exercise."""
    from pdf_extraction_spark.operators.text_analysis import bpe_token_stats

    d = _load(spark, sf_dir, "documents")
    d = d.select(
        "doc_id",
        F.concat(
            F.expr("substring(text, 1, 80)"), F.lit(", it's 42% done!")
        ).alias("text"),
    )
    return bpe_token_stats(d, "doc_id", "text")


_ORACLE_TOKEN_BPE = r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(
           substr(text, 1, 80) || ', it''s 42% done!',
           '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'
         ) AS toks,
         len(regexp_split_to_array(
           trim(substr(text, 1, 80) || ', it''s 42% done!'), '\s+')) AS n_ws
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_pieces,
       CAST(len(list_filter(toks, x -> NOT regexp_matches(x, '^\s+$')))
            AS BIGINT) AS n_bpe_tokens,
       CAST(n_ws AS BIGINT) AS n_ws_tokens
FROM t
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    from pdf_extraction_spark.functions.text import tokens
    from pdf_extraction_spark.operators.dedup import exact_dedup

    d = _load(spark, sf_dir, "documents")
    key = F.md5(F.array_join(F.slice(tokens(F.col("text")), 1, 4), " "))
    return exact_dedup(d, "doc_id", key)


_ORACLE_DEDUP_EXACT = f"""
WITH t AS (
  SELECT doc_id, md5(array_to_string(list_slice({_DK_TOKS}, 1, 4), ' ')) AS dedup_key
  FROM documents
)
SELECT dedup_key, min(doc_id) AS keep_id, count(*) AS dup_count
FROM t GROUP BY dedup_key
"""


def _dk_minhash_sig(num_perms: int) -> str:
    """DuckDB twin of functions.text.minhash_signature over `hs` (pre-hashed
    grams): same literal (a_p, b_p) coefficients, same prime."""
    from pdf_extraction_spark.functions.text import MINHASH_PRIME, minhash_coeffs

    mins = ", ".join(
        f"list_min([(h * {a} + {b}) % {MINHASH_PRIME} for h in hs])"
        for a, b in minhash_coeffs(num_perms)
    )
    return f"[{mins}]"


_DK_HASH32 = "CAST(('0x' || substr(md5({x}), 1, 8)) AS UBIGINT)::BIGINT"


def _oracle_lsh_jaccard(
    corpus_sql: str,
    *,
    n: int,
    num_perms: int,
    bands: int,
    num_thr: int,
    den_thr: int,
    max_bucket: int,
) -> str:
    """DuckDB twin of operators.dedup.minhash_lsh_dedup_pairs: distinct
    gram-hash sets -> minhash signature -> band keys -> bucket cap ->
    candidate pairs -> exact Jaccard verify on the hash sets (hash sets
    are distinct, so |A∪B| = |A| + |B| - |A∩B|)."""
    r = num_perms // bands
    inter = "len(list_intersect(ga.hs, gb.hs))"
    union = f"(len(ga.hs) + len(gb.hs) - {inter})"
    return f"""
WITH corpus AS ({corpus_sql}),
t AS (SELECT doc_id, {_DK_TOKS} AS toks FROM corpus),
g AS (
  SELECT doc_id,
         list_distinct([{_DK_HASH32.format(x='gr')} for gr in {_dk_grams(n)}]) AS hs
  FROM t WHERE len({_dk_grams(n)}) > 0
),
sig AS (SELECT doc_id, {_dk_minhash_sig(num_perms)} AS s FROM g),
bands AS (
  SELECT doc_id, unnest([md5(CAST(b AS VARCHAR) || ':' ||
           array_to_string(list_transform(list_slice(s, b*{r}+1, b*{r}+{r}),
                                          v -> CAST(v AS VARCHAR)), ','))
         for b in range({bands})]) AS band_key
  FROM sig
),
bands_capped AS (
  SELECT doc_id, band_key FROM (
    SELECT doc_id, band_key,
           count(*) OVER (PARTITION BY band_key) AS bc
    FROM bands
  ) WHERE bc <= {max_bucket}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands_capped a
  JOIN bands_capped b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST({inter} AS BIGINT) AS inter_size,
       CAST({union} AS BIGINT) AS union_size
FROM cand c
JOIN g ga ON ga.doc_id = c.id_a
JOIN g gb ON gb.doc_id = c.id_b
WHERE {inter} * {den_thr} >= {union} * {num_thr}
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact 2-gram Jaccard (>= 1/10) as the VERIFIER behind MinHash-LSH
    candidate discovery — the scale-safe composition.  Discovery never
    enumerates block-quadratic pairs (the round-1 (lang, source)-blocked
    discovery grew quadratically within blocks at 100x); candidates come
    from bucketed LSH and only those pairs pay the exact-Jaccard check.
    The corpus plants prefix-perturbed near-dups so the verify output is
    non-trivially populated.

    ``max_bucket=64`` (the library default is 256) bounds the in-bucket
    pair expansion: 2-gram shingles are weakly discriminative, so one
    degenerate band bucket of k docs would otherwise pay a k^2/2 pair +
    verify blow-up — with the cap, a slow driver-bench window for this
    query indicates machine contention (see steal_core_s in the bench
    artifact), never data-dependent quadratic work."""
    from pdf_extraction_spark.operators.dedup import minhash_lsh_dedup_pairs

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    pert = d.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.lit("prefix noise tokens "), F.col("text")).alias("text"),
    )
    corpus = _spread(d.unionByName(pert))
    # 4 bands x 4 rows: 2-gram shingles are far less discriminative than
    # 3-grams, so 2-row bands flood the verifier with candidates (measured
    # 352k candidate pairs at sf0.1 vs 6.5k with 4-row bands — 2-3x the
    # whole query's runtime spent verifying noise)
    out = minhash_lsh_dedup_pairs(
        corpus, "doc_id", "text", n=2, num_perms=16, bands=4,
        num_threshold=1, den_threshold=10, max_bucket=64,
    )
    return out.select(
        "id_a", "id_b",
        F.col("inter_size").cast("long").alias("inter_size"),
        F.col("union_size").cast("long").alias("union_size"),
    )


_ORACLE_JACCARD = _oracle_lsh_jaccard(
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 2000000, 'prefix noise tokens ' || text FROM documents",
    n=2, num_perms=16, bands=4, num_thr=1, den_thr=10, max_bucket=64,
)


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16 perms) + LSH(8 bands x 2 rows) + exact-Jaccard verify on a
    corpus of base docs UNION near-duplicate perturbations.

    max_bucket=64 drops degenerate band buckets (one bucket held 834 of
    10k docs at sf0.1 — 85% of all candidate pairs) before pair expansion;
    the oracle applies the identical cap with a window count.  Verify
    compares the md5-hashed gram sets (array<long>) — same candidate set,
    smaller shuffle payload than the round-1 string-gram compare."""
    from pdf_extraction_spark.operators.dedup import minhash_lsh_dedup_pairs

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    pert = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy xx ww vv")).alias("text"),
    )
    corpus = _spread(d.unionByName(pert))
    out = minhash_lsh_dedup_pairs(
        corpus, "doc_id", "text", n=3, num_perms=16, bands=8,
        num_threshold=1, den_threshold=2, max_bucket=64,
    )
    return out.select(
        "id_a", "id_b",
        F.col("inter_size").cast("long").alias("inter_size"),
        F.col("union_size").cast("long").alias("union_size"),
    )


_ORACLE_MINHASH = _oracle_lsh_jaccard(
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 1000000, text || ' zz yy xx ww vv' FROM documents",
    n=3, num_perms=16, bands=8, num_thr=1, den_thr=2, max_bucket=64,
)


def q_dedup_incremental(spark, sf_dir):
    """Incremental-ingest dedup: treat even-id docs as the accumulated
    corpus snapshot; the 'daily batch' is all docs plus 50 re-crawled
    copies (new ids, same text).  Output = batch rows whose fingerprint
    is genuinely new (odd-id originals only — every even-id text and its
    re-crawl is already seen)."""
    from pdf_extraction_spark.operators.dedup import incremental_new_docs

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    seen = d.filter(F.col("doc_id") % 2 == 0).select(
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("fingerprint")
    ).distinct()
    recrawl = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"), "text"
    )
    batch = d.unionByName(recrawl)
    out = incremental_new_docs(batch, seen, "doc_id", "text")
    return out.select("doc_id", "fingerprint")


_ORACLE_INCREMENTAL = r"""
WITH fp AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 5000000, text FROM documents WHERE doc_id % 10 = 0
  )
),
seen AS (
  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM documents WHERE doc_id % 2 = 0
)
SELECT doc_id, fingerprint FROM fp
WHERE fingerprint NOT IN (SELECT fingerprint FROM seen)
"""


def q_dedup_clusters_star(spark, sf_dir):
    """Connected-components dedup clustering: the near-dup PAIRS from the
    MinHash-LSH pipeline (same corpus/params as `dedup_minhash_lsh`) are
    folded into canonical-id clusters — every doc in the pair graph maps
    to the minimum doc id reachable from it — by the alternating
    small-star/large-star contraction (O(log n) rounds vs component
    diameter, the variant for chain-shaped near-dup graphs).  The DuckDB
    twin computes the same fixpoint with a recursive CTE; agreement with
    plain min-label propagation (`dedup_components`) is pinned in
    tests/test_curation.py."""
    from pdf_extraction_spark.operators.dedup import (
        dedup_components_star,
        minhash_lsh_dedup_pairs,
    )

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    pert = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy xx ww vv")).alias("text"),
    )
    corpus = _spread(d.unionByName(pert))
    pairs = minhash_lsh_dedup_pairs(
        corpus, "doc_id", "text", n=3, num_perms=16, bands=8,
        num_threshold=1, den_threshold=2, max_bucket=64,
    )
    return dedup_components_star(pairs)


_ORACLE_CLUSTERS = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_ORACLE_MINHASH})
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
)
SELECT CAST(n AS BIGINT) AS doc_id, CAST(min(m) AS BIGINT) AS cluster_id
FROM reach GROUP BY n
"""


def q_pii_scrub(spark, sf_dir):
    """PII detect + redact over documents with deterministically planted
    emails (every 3rd doc) and phone numbers (every 4th doc) so the
    counters and redactions are non-trivially exercised."""
    from pdf_extraction_spark.operators.text_analysis import pii_scrub

    d = _load(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 0, F.lit(" call 555-123-4567 today")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return pii_scrub(planted, "doc_id", "text")


# same regexes as operators/text_analysis.py — RE2/Java-portable subset
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\d{3}-\d{3}-\d{4}"

_ORACLE_PII = f"""
WITH planted AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
            ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN ' call 555-123-4567 today' ELSE '' END AS text
  FROM documents
),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
         regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g') AS t1
  FROM planted
)
SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(t1, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       regexp_replace(t1, '{_PII_PHONE}', '[PHONE]', 'g') AS scrubbed_text
FROM s1
"""


def q_dedup_simhash(spark, sf_dir):
    """SimHash fingerprints of base vs perturbed text + Hamming distance.

    The perturbed token-hash array is the base array plus five CONSTANT
    hashes (the perturbation suffix " zz yy xx ww vv" appends exactly five
    whitespace tokens — `text` is non-empty after trim at every sf, a
    verified corpus invariant), so the text is tokenized and md5-hashed
    ONCE per row instead of twice; the suffix hashes are plan literals.
    The DuckDB oracle still re-tokenizes the concatenated string, proving
    the two formulations agree."""
    import hashlib

    from pdf_extraction_spark.functions.text import (
        hamming60,
        hash60,
        simhash_from_hashes,
        tokens,
    )

    pert_hashes = [
        int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        for t in ["zz", "yy", "xx", "ww", "vv"]
    ]
    d = _spread(_load(spark, sf_dir, "documents").select("doc_id", "text"))
    d = d.withColumn(
        "hashes", F.transform(tokens(F.col("text")), hash60)
    ).withColumn(
        "hashes_p",
        F.concat(F.col("hashes"), F.array(*[F.lit(h) for h in pert_hashes])),
    )
    d = d.select(
        "doc_id",
        simhash_from_hashes("hashes").alias("fp_base"),
        simhash_from_hashes("hashes_p").alias("fp_pert"),
    )
    return d.select(
        "doc_id", "fp_base", "fp_pert",
        hamming60("fp_base", "fp_pert").cast("long").alias("hamming"),
    )


_DK_SIMHASH = (
    "CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END "
    "for h in {hashes}]) > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END "
    "for j in range(60)]) AS BIGINT)"
)

_ORACLE_SIMHASH = f"""
WITH t AS (
  SELECT doc_id,
         [{_DK_HASH60.format(x='tk')} for tk in {_DK_TOKS}] AS hashes,
         [{_DK_HASH60.format(x='tk')} for tk in regexp_split_to_array(trim(text || ' zz yy xx ww vv'), '\\s+')] AS hashes_p
  FROM documents
),
f AS (
  SELECT doc_id,
         {_DK_SIMHASH.format(hashes='hashes')} AS fp_base,
         {_DK_SIMHASH.format(hashes='hashes_p')} AS fp_pert
  FROM t
)
SELECT doc_id, fp_base, fp_pert,
       CAST(list_sum([(xor(fp_base, fp_pert) >> j) & 1 for j in range(60)]) AS BIGINT) AS hamming
FROM f
"""


def _dk_lsh_bucket(vec: str, num_planes: int = 8, dim: int = 64) -> str:
    """DuckDB twin of operators.similarity.lsh_bucket: re-derives the ±1
    hyperplane matrix from md5 in SQL (bit 0 of the 60-bit md5-prefix of
    'p|<p>|d|<d>'), proving the quantizer is engine-portable from its seed
    string alone.  Left-fold float sums match Spark's aggregate order."""
    w = (
        "(CASE WHEN CAST(('0x' || substr(md5('p|' || CAST(p AS VARCHAR) "
        "|| '|d|' || CAST(d AS VARCHAR)), 1, 15)) AS UBIGINT) & 1 = 1 "
        "THEN 1.0 ELSE -1.0 END)"
    )
    dot = (
        f"list_reduce([CAST({vec}[d+1] AS DOUBLE) * {w} "
        f"for d in range({dim})], (x, y) -> x + y)"
    )
    return (
        f"CAST(list_sum([CASE WHEN {dot} > 0 THEN (1 << p) ELSE 0 END "
        f"for p in range({num_planes})]) AS INT)"
    )


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs (cosine >= 0.25) blocked on the COMPUTED
    hyperplane-LSH bucket — the 100 TB shape: the quadratic check runs
    only within quantizer cells (256 buckets at 8 planes), not within
    coarse ground-truth labels (the round-1 block key, which at 100x the
    data meant quadratic growth inside each of only a handful of blocks)."""
    from pdf_extraction_spark.operators.dedup import embedding_near_dup_pairs
    from pdf_extraction_spark.operators.similarity import lsh_bucket

    e = _load(spark, sf_dir, "embeddings").withColumn(
        "lsh_blk", lsh_bucket(F.col("embedding"), num_planes=8, dim=64)
    )
    return embedding_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.25, block_col="lsh_blk"
    )


_DK_DOT = (
    "list_reduce([CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE) "
    "for i in range(64)], (x, y) -> x + y)"
)

_ORACLE_EMB_NEARDUP = f"""
WITH v AS (SELECT vec_id, embedding, {_dk_lsh_bucket('embedding')} AS lsh_blk
           FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM v a JOIN v b ON a.lsh_blk = b.lsh_blk AND a.vec_id < b.vec_id
WHERE {_DK_DOT.format(a='a.embedding', b='b.embedding')}
      / (sqrt({_DK_DOT.format(a='a.embedding', b='a.embedding')})
         * sqrt({_DK_DOT.format(a='b.embedding', b='b.embedding')})) >= 0.25
"""


# ---------------------------------------------------------------------------
# Similarity search (ANN)
# ---------------------------------------------------------------------------

def q_similarity_ivf_topk(spark, sf_dir):
    """ANN top-5 with an IVF coarse quantizer (the centroid-based scale
    path, complementing the hyperplane-LSH one): centroids are the 8
    vectors with the smallest md5(vec_id) — deterministic and model-free,
    so the DuckDB oracle re-derives the identical centroid set in SQL —
    every vector is assigned to its max-cosine cell (first-wins ties,
    matching ORDER BY cos DESC, cell ASC), and the search prunes
    candidates to the query's cell (n_probe = 1)."""
    from pdf_extraction_spark.operators.similarity import (
        bucketed_topk,
        ivf_cell,
        ivf_centroids,
    )

    e = _load(spark, sf_dir, "embeddings")
    cents = ivf_centroids(e, n_cells=8)
    e = e.withColumn("ivf_cell", ivf_cell(F.col("embedding"), cents))
    out = bucketed_topk(
        e, e.filter(F.col("vec_id") < 8), bucket_col="ivf_cell", k=5
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


_ORACLE_IVF_TOPK = f"""
WITH c AS (
  SELECT embedding AS cvec,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cell
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 8
),
assign AS (
  SELECT vec_id, embedding, cell,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
  FROM (
    SELECT v.vec_id, v.embedding, c.cell,
           {_DK_DOT.format(a='v.embedding', b='c.cvec')}
           / (sqrt({_DK_DOT.format(a='v.embedding', b='v.embedding')})
              * sqrt({_DK_DOT.format(a='c.cvec', b='c.cvec')})) AS cos
    FROM embeddings v CROSS JOIN c)
),
cells AS (SELECT vec_id, embedding, cell FROM assign WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS q_vec, cell FROM cells
      WHERE vec_id < 8),
v AS (SELECT vec_id AS neighbor_id, embedding AS n_vec, cell FROM cells),
scored AS (
  SELECT query_id, neighbor_id,
         {_DK_DOT.format(a='q_vec', b='n_vec')}
         / (sqrt({_DK_DOT.format(a='q_vec', b='q_vec')})
            * sqrt({_DK_DOT.format(a='n_vec', b='n_vec')})) AS cos
  FROM v JOIN q USING (cell) WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5
"""


def q_similarity_lsh_bucketed(spark, sf_dir):
    """ANN top-5 within the query's COMPUTED hyperplane-LSH bucket — the
    scale path exercised with a real quantizer instead of the ground-truth
    `label` column: lsh_bucket (md5-seeded ±1 planes, no stored model)
    assigns each vector a 16-cell bucket; the broadcast bucket-join prunes
    candidates to the query's cell."""
    from pdf_extraction_spark.operators.similarity import bucketed_topk, lsh_bucket

    e = _load(spark, sf_dir, "embeddings").withColumn(
        "lsh_blk", lsh_bucket(F.col("embedding"), num_planes=4, dim=64)
    )
    out = bucketed_topk(
        e, e.filter(F.col("vec_id") < 8), bucket_col="lsh_blk", k=5
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


_ORACLE_TOPK_LSH = f"""
WITH v0 AS (SELECT vec_id, embedding, {_dk_lsh_bucket('embedding', num_planes=4)} AS lsh_blk
            FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_vec, lsh_blk FROM v0 WHERE vec_id < 8),
v AS (SELECT vec_id AS neighbor_id, embedding AS n_vec, lsh_blk FROM v0),
scored AS (
  SELECT query_id, neighbor_id,
         {_DK_DOT.format(a='q_vec', b='n_vec')}
         / (sqrt({_DK_DOT.format(a='q_vec', b='q_vec')})
            * sqrt({_DK_DOT.format(a='n_vec', b='n_vec')})) AS cos
  FROM v JOIN q USING (lsh_blk) WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 5
"""


# ---------------------------------------------------------------------------
# Multimodal columns (binary blobs + typed metadata)
# ---------------------------------------------------------------------------

def q_multimodal_png_decode(spark, sf_dir):
    """REAL compressed-image decode: spec-conformant 8-bit RGB/RGBA PNGs
    (zlib IDAT split across two chunks, ancillary tEXt, scanlines cycling
    all five filter types) are synthesized per doc id, then the pure-Python
    decoder walks chunks (CRC-verified), inflates, and unfilters
    None/Sub/Up/Average/Paeth.  The DuckDB twin never parses PNG: it
    recomputes the expected per-channel stats analytically from the
    generator's md5 pixel formula, so any codec error (a wrong filter
    inverse, a missed IDAT, top-down/bottom-up confusion) breaks the
    match.  Reference analogue: the PIL image side of
    pdfextraction.py:72-73."""
    from pdf_extraction_spark.operators.multimodal import (
        decode_png,
        synth_blobs,
        synth_png_bytes,
    )

    d = _load(spark, sf_dir, "documents").select("doc_id")
    blobs = synth_blobs(d, "doc_id", synth_png_bytes)
    return decode_png(blobs, "media_id", "blob")


_ORACLE_PNG_DECODE = """
WITH m AS (
  SELECT doc_id, CAST(doc_id % 5 + 4 AS INT) AS w, CAST(doc_id % 4 + 4 AS INT) AS h,
         CAST(doc_id % 2 + 3 AS INT) AS ch
  FROM documents
),
rows_ AS (SELECT doc_id, w, h, ch, unnest(range(h)) AS j FROM m),
rh AS (
  SELECT doc_id, w, h, ch, j,
         substr(md5(CAST(doc_id AS VARCHAR) || ':p' || CAST(j AS VARCHAR) || ':a')
                || md5(CAST(doc_id AS VARCHAR) || ':p' || CAST(j AS VARCHAR) || ':b'),
                1, w*ch*2) AS hx
  FROM rows_
),
b AS (SELECT doc_id, w, h, ch, j, unnest(range(w*ch)) AS k, hx FROM rh),
v AS (
  SELECT doc_id, w, h, ch, j, k,
         CAST(('0x' || substr(hx, CAST(k*2 + 1 AS INT), 2)) AS INT) AS val,
         k % ch AS chan
  FROM b
)
SELECT doc_id AS media_id, w AS width, h AS height, ch AS channels,
       CAST(sum(CASE WHEN chan = 0 THEN val END) * 1000 // (w*h) AS BIGINT) AS mean_r_milli,
       CAST(sum(CASE WHEN chan = 1 THEN val END) * 1000 // (w*h) AS BIGINT) AS mean_g_milli,
       CAST(sum(CASE WHEN chan = 2 THEN val END) * 1000 // (w*h) AS BIGINT) AS mean_b_milli,
       CAST(sum(CASE WHEN chan = 3 THEN val END) * 1000 // (w*h) AS BIGINT) AS mean_a_milli,
       CAST(max(CASE WHEN j = 0 AND k = 0 THEN val END) AS INT) AS tl_r,
       CAST(max(CASE WHEN j = 0 AND k = 1 THEN val END) AS INT) AS tl_g,
       CAST(max(CASE WHEN j = 0 AND k = 2 THEN val END) AS INT) AS tl_b,
       CAST(max(CASE WHEN ch = 4 AND j = 0 AND k = 3 THEN val END) AS INT) AS tl_a,
       CAST(1 AS INT) AS is_valid
FROM v GROUP BY doc_id, w, h, ch
"""


def q_multimodal_png_interlaced(spark, sf_dir):
    """Adam7-interlaced PNG decode (interlace method 1 — the variant
    progressive-rendering web PNGs use): the same md5-formula pixels as
    multimodal_png_decode, packed as seven independently-filtered
    passes (empty passes included, which contribute no bytes at all per
    the spec), scattered back onto the output grid by the decoder.
    Decoded pixels are identical to the sequential blob's, so the
    baseline entry's analytic oracle applies verbatim — any pass-
    geometry, per-pass filter-state, or scatter defect breaks the same
    value hash."""
    from pdf_extraction_spark.operators.multimodal import (
        decode_png,
        synth_blobs,
        synth_png_interlaced_bytes,
    )

    d = _load(spark, sf_dir, "documents").select("doc_id")
    blobs = synth_blobs(d, "doc_id", synth_png_interlaced_bytes)
    return decode_png(blobs, "media_id", "blob")


def q_multimodal_gif_decode(spark, sf_dir):
    """REAL compressed-image decode #2: spec-conformant GIF89a blobs
    (8-colour global table, a comment extension the parser must skip,
    16-byte data sub-blocks, and a from-scratch GIF-LZW stream whose
    code width grows mid-image) are synthesized per doc id, then the
    pure-Python decoder LZW-decompresses the index stream and maps it
    through the palette.  The codec is pinned to real-world GIF bytes
    in pytest (the canonical 10x10 sample stream decodes AND re-encodes
    byte-exactly; the classic 1x1 tracking pixel parses), and the
    DuckDB twin recomputes the expected per-channel stats analytically
    from the generator's md5-index + affine-palette formulas — it never
    parses GIF, so any LZW desync breaks the value hash.  Reference
    analogue: the PIL image side of pdfextraction.py:72-73."""
    from pdf_extraction_spark.operators.multimodal import (
        decode_gif,
        synth_blobs,
        synth_gif_bytes,
    )

    d = _load(spark, sf_dir, "documents").select("doc_id")
    blobs = synth_blobs(d, "doc_id", synth_gif_bytes)
    return decode_gif(blobs, "media_id", "blob")


_ORACLE_GIF_DECODE = """
WITH m AS (
  SELECT doc_id, CAST(doc_id % 6 + 4 AS INT) AS w, CAST(doc_id % 5 + 4 AS INT) AS h,
         md5(CAST(doc_id AS VARCHAR) || ':g0') || md5(CAST(doc_id AS VARCHAR) || ':g1')
         || md5(CAST(doc_id AS VARCHAR) || ':g2') || md5(CAST(doc_id AS VARCHAR) || ':g3')
         || md5(CAST(doc_id AS VARCHAR) || ':g4') AS hx
  FROM documents
),
px AS (SELECT doc_id, w, h, hx, unnest(range(w*h)) AS p FROM m),
ix AS (
  SELECT doc_id, w, h, p,
         CAST(('0x' || substr(hx, CAST(p*2 + 1 AS INT), 2)) AS INT) % 8 AS idx
  FROM px
),
v AS (
  SELECT doc_id, w, h, p,
         (idx * 37 + doc_id) % 256 AS r,
         (idx * 59 + 3 * doc_id) % 256 AS g,
         (idx * 83 + 7 * doc_id) % 256 AS b
  FROM ix
)
SELECT doc_id AS media_id, w AS width, h AS height,
       CAST(sum(r) * 1000 // (w*h) AS BIGINT) AS mean_r_milli,
       CAST(sum(g) * 1000 // (w*h) AS BIGINT) AS mean_g_milli,
       CAST(sum(b) * 1000 // (w*h) AS BIGINT) AS mean_b_milli,
       CAST(max(CASE WHEN p = 0 THEN r END) AS INT) AS tl_r,
       CAST(max(CASE WHEN p = 0 THEN g END) AS INT) AS tl_g,
       CAST(max(CASE WHEN p = 0 THEN b END) AS INT) AS tl_b,
       CAST(1 AS INT) AS is_valid
FROM v GROUP BY doc_id, w, h
"""


def q_multimodal_gif_animated(spark, sf_dir):
    """ANIMATED GIF decode: id%3+2 full-screen frames per blob, each
    with a Graphic Control Extension (delay = (id+f)%100 cs, disposal
    'leave'), plus the NETSCAPE2.0 looping application extension the
    parser must sub-block-skip.  The decoder LZW-decodes and composites
    every frame; stats span the whole animation (per-channel means over
    all frames, final frame's top-left pixel, total delay).  The DuckDB
    twin recomputes everything analytically from the md5 frame-index
    and affine-palette formulas — a desync in ANY frame's LZW stream,
    the GCE walk, or the compositing order breaks the value hash."""
    from pdf_extraction_spark.operators.multimodal import (
        decode_gif_animated,
        synth_blobs,
        synth_gif_animated_bytes,
    )

    d = _load(spark, sf_dir, "documents").select("doc_id")
    blobs = synth_blobs(d, "doc_id", synth_gif_animated_bytes)
    return decode_gif_animated(blobs, "media_id", "blob")


_ORACLE_GIF_ANIMATED = """
WITH m AS (
  SELECT doc_id, CAST(doc_id % 6 + 4 AS INT) AS w, CAST(doc_id % 5 + 4 AS INT) AS h,
         CAST(doc_id % 3 + 2 AS INT) AS nf
  FROM documents
),
fr AS (SELECT doc_id, w, h, nf, unnest(range(nf)) AS f FROM m),
fh AS (
  SELECT doc_id, w, h, nf, f,
         md5(CAST(doc_id AS VARCHAR) || ':f' || CAST(f AS VARCHAR) || ':0')
         || md5(CAST(doc_id AS VARCHAR) || ':f' || CAST(f AS VARCHAR) || ':1')
         || md5(CAST(doc_id AS VARCHAR) || ':f' || CAST(f AS VARCHAR) || ':2')
         || md5(CAST(doc_id AS VARCHAR) || ':f' || CAST(f AS VARCHAR) || ':3')
         || md5(CAST(doc_id AS VARCHAR) || ':f' || CAST(f AS VARCHAR) || ':4') AS hx
  FROM fr
),
px AS (SELECT doc_id, w, h, nf, f, hx, unnest(range(w*h)) AS p FROM fh),
v AS (
  SELECT doc_id, w, h, nf, f, p,
         CAST(('0x' || substr(hx, CAST(p*2 + 1 AS INT), 2)) AS INT) % 8 AS idx
  FROM px
),
rgb AS (
  SELECT doc_id, w, h, nf, f, p,
         (idx * 37 + doc_id) % 256 AS r,
         (idx * 59 + 3 * doc_id) % 256 AS g,
         (idx * 83 + 7 * doc_id) % 256 AS b
  FROM v
)
SELECT doc_id AS media_id, w AS width, h AS height, nf AS n_frames,
       CAST(sum(r) * 1000 // (w*h*nf) AS BIGINT) AS mean_r_milli,
       CAST(sum(g) * 1000 // (w*h*nf) AS BIGINT) AS mean_g_milli,
       CAST(sum(b) * 1000 // (w*h*nf) AS BIGINT) AS mean_b_milli,
       CAST(max(CASE WHEN f = nf - 1 AND p = 0 THEN r END) AS INT) AS last_r,
       CAST(max(CASE WHEN f = nf - 1 AND p = 0 THEN g END) AS INT) AS last_g,
       CAST(max(CASE WHEN f = nf - 1 AND p = 0 THEN b END) AS INT) AS last_b,
       CAST(sum(CASE WHEN p = 0 THEN (doc_id + f) % 100 ELSE 0 END) AS BIGINT) AS total_delay_cs,
       CAST(1 AS INT) AS is_valid
FROM rgb GROUP BY doc_id, w, h, nf
"""


def q_multimodal_jpeg_decode(spark, sf_dir):
    """REAL compressed-image decode #3: baseline JFIF (SOF0) blobs —
    the format the reference's raster path actually produces
    (pdf2image/PIL, pdfextraction.py:16,72-73) — are synthesized per
    doc id and decoded by a from-scratch codec: marker walk, DHT-built
    Huffman tables, byte unstuffing, RSTn sequence checks, dequant +
    numpy IDCT, 4:2:0 chroma upsample, fixed-point YCbCr->RGB.  The
    images are constant per 16x16 MCU so every block is DC-only and
    the lossy pipeline is EXACTLY invertible (quant tables all 1s);
    the DuckDB twin never parses JPEG — it replays the generator's md5
    MCU colours through the codec's documented fixed-point colour
    formulas, so any defect in markers, Huffman, bit packing, restart
    handling, subsampling or the IDCT breaks the value hash.  The full
    AC path (runs, ZRL, EOB) is pinned exactly in pytest via a
    coefficient-domain replay (tests/test_jpeg.py)."""
    from pdf_extraction_spark.operators.jpeg import decode_jpeg, synth_jpeg_bytes
    from pdf_extraction_spark.operators.multimodal import synth_blobs

    d = _load(spark, sf_dir, "documents").select("doc_id")
    blobs = synth_blobs(d, "doc_id", synth_jpeg_bytes)
    return decode_jpeg(blobs, "media_id", "blob")


_ORACLE_JPEG_DECODE = """
WITH m AS (
  SELECT doc_id,
         CAST(16 + doc_id % 5 * 7 AS INT) AS w,
         CAST(16 + doc_id % 4 * 9 AS INT) AS h
  FROM documents
),
g AS (SELECT doc_id, w, h, unnest(range((h + 15) // 16)) AS my FROM m),
gm AS (SELECT doc_id, w, h, my, unnest(range((w + 15) // 16)) AS mx FROM g),
px AS (
  SELECT doc_id, w, h, my, mx,
         md5(CAST(doc_id AS VARCHAR) || ':j' || CAST(my AS VARCHAR) || ':'
             || CAST(mx AS VARCHAR)) AS hx,
         LEAST(16, w - 16 * mx) AS vw,
         LEAST(16, h - 16 * my) AS vh
  FROM gm
),
rgb AS (
  SELECT doc_id, w, h, my, mx, vw, vh,
         CAST(('0x' || substr(hx, 1, 2)) AS INT) AS r,
         CAST(('0x' || substr(hx, 3, 2)) AS INT) AS g,
         CAST(('0x' || substr(hx, 5, 2)) AS INT) AS b
  FROM px
),
ycc AS (
  SELECT doc_id, w, h, my, mx, vw, vh,
         (19595*r + 38470*g + 7471*b + 32768) // 65536 AS y,
         LEAST(255, (8388608 - 11058*r - 21710*g + 32768*b + 32768) // 65536) AS cb,
         LEAST(255, (8388608 + 32768*r - 27439*g - 5329*b + 32768) // 65536) AS cr
  FROM rgb
),
dec AS (
  SELECT doc_id, w, h, my, mx, vw, vh,
         LEAST(255, GREATEST(0, (y*65536 + 91881*(cr-128) + 32768 + 16777216) // 65536 - 256)) AS r2,
         LEAST(255, GREATEST(0, (y*65536 - 22554*(cb-128) - 46802*(cr-128) + 32768 + 16777216) // 65536 - 256)) AS g2,
         LEAST(255, GREATEST(0, (y*65536 + 116130*(cb-128) + 32768 + 16777216) // 65536 - 256)) AS b2
  FROM ycc
)
SELECT doc_id AS media_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
       CAST(sum(r2 * vw * vh) * 1000 // (w*h) AS BIGINT) AS mean_r_milli,
       CAST(sum(g2 * vw * vh) * 1000 // (w*h) AS BIGINT) AS mean_g_milli,
       CAST(sum(b2 * vw * vh) * 1000 // (w*h) AS BIGINT) AS mean_b_milli,
       CAST(max(CASE WHEN my = 0 AND mx = 0 THEN r2 END) AS INT) AS tl_r,
       CAST(max(CASE WHEN my = 0 AND mx = 0 THEN g2 END) AS INT) AS tl_g,
       CAST(max(CASE WHEN my = 0 AND mx = 0 THEN b2 END) AS INT) AS tl_b,
       CAST(1 AS INT) AS is_valid
FROM dec GROUP BY doc_id, w, h
"""


def q_multimodal_jpeg_progressive(spark, sf_dir):
    """Progressive (SOF2) decode — the multi-scan variant most
    web-crawled JPEGs actually use (spectral selection + successive
    approximation + EOBn runs + AC refinement, T.81 Annex G).  The
    synthesizer re-encodes the SAME constant-per-MCU images as the
    baseline entry through the from-scratch progressive encoder
    (operators/jpeg_progressive.py), so the decoded pixels — and the
    analytic DuckDB twin — are IDENTICAL to multimodal_jpeg_decode's:
    any desync in the progressive entropy layer (DC refinement bits,
    EOB run lengths, ZRL-over-zero-history, buffered correction bits,
    restarts inside progressive scans) breaks the same value hash.
    Kept out of the bench headline set: at ~1.7 ms/image the
    progressive round trip is deliberately the slow path (bench
    documents the baseline codec; check_oracle --all value-checks
    this one)."""
    from pdf_extraction_spark.operators.jpeg import (
        decode_jpeg,
        synth_jpeg_progressive_bytes,
    )
    from pdf_extraction_spark.operators.multimodal import synth_blobs

    d = _load(spark, sf_dir, "documents").select("doc_id")
    blobs = synth_blobs(d, "doc_id", synth_jpeg_progressive_bytes)
    return decode_jpeg(blobs, "media_id", "blob")


def q_multimodal_jpeg_meta(spark, sf_dir):
    """Header-only JPEG metadata probe at corpus scale: width/height/
    component-count/frame-type from the SOF segment alone — no entropy
    decode, no IDCT.  This is the operator a 100 TB image pipeline
    runs FIRST (filter by dims / orientation / frame type before
    paying for pixel decode).  Blobs alternate baseline (even doc_id)
    and progressive (odd doc_id) frames and carry APP1 Exif segments
    in BOTH TIFF byte orders, so the probe must classify SOF0 vs SOF2
    and walk II/MM IFDs — the oracle pins `progressive = doc_id % 2`
    and `orientation = doc_id % 8 + 1` analytically."""
    from pdf_extraction_spark.operators.jpeg import probe_jpeg, synth_jpeg_mixed_bytes
    from pdf_extraction_spark.operators.multimodal import synth_blobs

    d = _load(spark, sf_dir, "documents").select("doc_id")
    blobs = synth_blobs(d, "doc_id", synth_jpeg_mixed_bytes)
    return probe_jpeg(blobs, "media_id", "blob")


_ORACLE_JPEG_META = """
SELECT doc_id AS media_id,
       CAST(16 + doc_id % 5 * 7 AS INT) AS width,
       CAST(16 + doc_id % 4 * 9 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(doc_id % 2 AS INT) AS progressive,
       CAST(doc_id % 8 + 1 AS INT) AS orientation,
       CAST(1 AS INT) AS is_valid
FROM documents
"""


# ---------------------------------------------------------------------------
# Build-then-parse round trips: each document's text goes through a
# builder and back through the production parser, and the oracle states
# the analytic identity.  The row functions are closures over package
# functions only: workers cannot import this file (the driver may load
# it under another module name), so a module-level function of it must
# never be shipped to them, nor called by a shipped one.
# ---------------------------------------------------------------------------

def _round_trip(d: DataFrame, row, schema: str) -> DataFrame:
    """``row(doc_id, text)`` -> one output row under ``schema``, over
    the frame's (doc_id long, text string) columns."""
    from pdf_extraction_spark.operators.balance import map_documents

    src = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").cast("string").alias("text"),
    )
    return map_documents(src, row, schema)


def _split_row(build, extract):
    """The office round trip: each text split in half -> ``build`` (two
    paragraphs/chapters/slides) -> real container bytes -> ``extract``
    -> (doc_id, n_parts, part1_chars, n_chars, extracted_text)."""

    def row(doc_id, text):
        t = text or ""
        half = len(t) // 2
        parts = extract(build([t[:half], t[half:]])) or []
        n1 = len(parts[0]) if parts else 0
        return doc_id, len(parts), n1, sum(map(len, parts)), "".join(parts)

    return row


def _text_schema(n_parts: str, part1: str) -> str:
    """The text round trips' output row: two part counts, then the
    recovered text and its length."""
    return f"doc_id long, {n_parts} int, {part1} int, n_chars int, extracted_text string"


def _xlsx_row():
    """text -> real .xlsx bytes -> stdlib-zip + XML extraction -> text."""
    from pdf_extraction_spark.operators.xlsx_text import build_xlsx, extract_xlsx_sheets

    def row(doc_id, text):
        t = text or ""
        q = (len(t) + 3) // 4
        # 2x2 grid of text quarters + one numeric cell (the length),
        # so all three cell encodings are on the round trip
        grid = [[t[:q], t[q : 2 * q]], [t[2 * q : 3 * q], t[3 * q :]], [str(len(t))]]
        rows = [r for sheet in extract_xlsx_sheets(build_xlsx(grid)) or [] for r in sheet]
        flat = [c for r in rows for c in r]
        return doc_id, len(rows), len(flat), sum(map(len, flat)), "".join(flat)

    return row


# content-stream filter per doc_id % 9 (default: FlateDecode) — drives
# every non-image PDF filter decoder in the per-round driver run
_PDF_FILTER_BY_MOD = {0: False, 3: "lzw", 6: "a85", 2: "rl", 5: "ahx"}

# font-encoding mode per doc_id % 5: legacy UTF-8-fallback font,
# WinAnsi + /Differences, MacRoman + /Differences, /ToUnicode CMap, and
# Type0/Identity-H CID — every declared-encoding decoder the parser
# owns runs under the driver's identity oracle
_PDF_FONT_BY_MOD = {0: None, 1: "winansi", 2: "macroman", 3: "tounicode", 4: "cid"}


def _pdf_row(layout):
    """Each text split into two pages -> ``build_pdf(**layout(doc_id))``
    -> ``extract_pdf_pages`` -> (doc_id, n_pages, page1_chars, n_chars,
    extracted_text).  Every 7th id points startxref at byte 0 (the %PDF
    header), so the xref load fails and the parser must fall back to
    scanning for ``N G obj`` (a real-crawl wrinkle)."""
    import re

    from pdf_extraction_spark.pdf_parse import build_pdf, extract_pdf_pages

    def row(doc_id, text):
        t = text or ""
        half = len(t) // 2
        blob = build_pdf([t[:half], t[half:]], **layout(doc_id))
        if doc_id % 7 == 3:
            blob = re.sub(rb"startxref\s+\d+", b"startxref\n0", blob)
        pages = extract_pdf_pages(blob)
        return doc_id, len(pages), len(pages[0]), sum(map(len, pages)), "".join(pages)

    return row


def _ocr_row():
    """The full reference-shaped chain for one document over a real
    scanned-style PDF: the rendered page's JPEG is embedded as an
    /XObject /Image /Filter /DCTDecode on a page with no text layer,
    and recovery goes through the parser's image-XObject listing,
    exactly where the reference points poppler (pdfextraction.py:16
    rasterizes the page; here the page IS the image)."""
    from pdf_extraction_spark.operators.jpeg import encode_baseline_jpeg
    from pdf_extraction_spark.operators.ocr import image_text, render_page, sanitize_text
    from pdf_extraction_spark.pdf_parse import build_pdf, extract_pdf_images

    def row(doc_id, text):
        jpeg = encode_baseline_jpeg(render_page(sanitize_text(text or "")))
        imgs = extract_pdf_images(build_pdf([""], images=[jpeg]))
        rec = (image_text(imgs[0][0]) if imgs and imgs[0] else None) or ""
        return doc_id, len(rec), rec

    return row


def _scanned_row():
    """A scanned-style PDF per document, read back as the image-XObject
    listing's metadata (count/dims/filter) AND the OCR'd text.  Even ids
    embed the page as JPEG (/DCTDecode), odd ids as a CCITT Group 4
    bilevel scan (/CCITTFaxDecode, the compression real document
    scanners emit); layout and encryption vary analytically so the
    listing is exercised through xref streams, ObjStm packing, and both
    crypt-filter families."""
    from pdf_extraction_spark.operators.ccitt import g4_encode
    from pdf_extraction_spark.operators.jpeg import encode_baseline_jpeg
    from pdf_extraction_spark.operators.ocr import image_text, render_page, sanitize_text
    from pdf_extraction_spark.pdf_parse import build_pdf, extract_pdf_images

    def row(doc_id, text):
        raster = render_page(sanitize_text(text or ""))
        if doc_id % 2 == 0:
            payload = encode_baseline_jpeg(raster)
        else:
            h, w = raster.shape
            rows = [bytes(1 if v < 128 else 0 for v in raster[j]) for j in range(h)]
            # alternate the embedding route: XObject stream vs inline
            # BI..ID..EI (both list as /CCITTFaxDecode, so the oracle's
            # filter-by-parity pin is embedding-invariant by construction)
            kind = "g4" if doc_id % 4 == 1 else "inline-g4"
            payload = (kind, w, h, g4_encode(rows, w))
        pdf = build_pdf(
            [""],
            images=[payload],
            xref_stream=doc_id % 2 == 1,
            use_objstm=doc_id % 4 == 1,
            encrypt={0: None, 1: "rc4-128", 2: "aes-128"}[doc_id % 3],
        )
        imgs = extract_pdf_images(pdf)
        if not imgs or not imgs[0]:
            return doc_id, 0, 0, 0, "", ""
        im = imgs[0][0]
        n_images = sum(len(pg) for pg in imgs)
        rec = image_text(im) or ""
        return doc_id, n_images, im["width"], im["height"], im["filter"], rec

    return row


def q_ocr_raster_roundtrip(spark, sf_dir):
    """The reference's scanned-PDF path (pdfextraction.py:16,72-73:
    convert_from_bytes -> PIL -> pytesseract), re-created from scratch
    over the constrained synthetic subset — now starting from a REAL
    scanned-style PDF (round-5): a deterministic 8x8 bitmap font
    rasterizes the text, the real baseline-JPEG codec compresses it,
    build_pdf embeds that JPEG as an /XObject /Image /Filter /DCTDecode
    on an image-only page (no text layer — the layout actual scans
    have), the from-scratch parser lists and returns the image stream
    bit-exactly, the JPEG decodes, and a template-matching OCR pass
    reads the text back.  The oracle never
    runs any of that — it replays only the charset projection
    (non-printable-ASCII -> '?', capped at the 128-char page), so the
    value hash breaks if ANY leg of the chain (PDF build/parse, glyph
    render, JPEG encode/decode, binarization, template match) corrupts
    a single character.  Honest scope (module docstring): procedural
    font + grid layout + same-font template match — the dataflow of
    raster OCR, not general OCR, which stays impossible without
    poppler/tesseract.  Deliberately NOT in the bench headline
    (~17 ms/doc; the chain is the point, not the throughput)."""
    return _round_trip(
        _load(spark, sf_dir, "documents"),
        _ocr_row(),
        "doc_id long, n_chars int, recovered_text string",
    )


_ORACLE_OCR_ROUNDTRIP = """
WITH s AS (
  SELECT doc_id,
         substr(regexp_replace(coalesce(text, ''), '[^ -~]', '?', 'g'), 1, 128) AS x
  FROM documents
)
SELECT doc_id,
       CAST(length(x) AS INT) AS n_chars,
       x AS recovered_text
FROM s
"""


def q_extract_pdf_scanned(spark, sf_dir):
    """Scanned-document ingestion as a first-class query (round 5): each
    document's text rasterizes onto a page embedded in a REAL
    scanned-style PDF — even ids as JPEG (/XObject /Image /Filter /DCTDecode), odd ids as a
    CCITT Group 4 bilevel scan (/CCITTFaxDecode /K -1, the compression
    real document scanners emit, decoded by the from-scratch T.6 codec
    in operators/ccitt.py — alternating the XObject-stream and inline
    BI..ID..EI embeddings by id%4, both of which the listing reports
    identically); image-only pages, layouts and rc4/aes
    encryption vary by doc_id.  The query recovers the image listing's
    metadata AND the OCR'd text.  The oracle replays only construction
    constants (1 image, 128x64, the filter parity) and the charset
    projection — any defect in the embed, the listing, the
    decrypt-without-decode path, either codec, or the OCR breaks the
    value hash."""
    return _round_trip(
        _load(spark, sf_dir, "documents"),
        _scanned_row(),
        "doc_id long, n_images int, img_width int, img_height int, "
        "img_filter string, recovered_text string",
    )


_ORACLE_PDF_SCANNED = """
SELECT doc_id,
       CAST(1 AS INT) AS n_images,
       CAST(128 AS INT) AS img_width,
       CAST(64 AS INT) AS img_height,
       CASE WHEN doc_id % 2 = 0 THEN 'DCTDecode' ELSE 'CCITTFaxDecode' END
         AS img_filter,
       substr(regexp_replace(coalesce(text, ''), '[^ -~]', '?', 'g'), 1, 128)
         AS recovered_text
FROM documents
"""


def q_extract_pdf_text(spark, sf_dir):
    """Text extraction from REAL %PDF bytes (the reference's core
    capability, pdfextraction.py:33-35 / app.py:46-52): each document's
    text becomes a 2-page PDF via the from-scratch builder (xref table,
    FlateDecode via stdlib zlib, Tj/TJ/'/hex show ops; variants: raw
    streams, indirect /Length, vandalized startxref forcing scan
    recovery; font encodings cycled per doc_id%5 — legacy UTF-8
    fallback, WinAnsi+/Differences, MacRoman+/Differences, /ToUnicode
    CMap, Type0/Identity-H CID), and the from-scratch parser must
    recover the pages from the bytes alone.  The oracle never parses
    PDF — it asserts the analytic identity extracted_text == text, so
    ANY builder, encoder-table, CMap, or parser defect breaks the
    value hash."""

    def layout(doc_id):
        return dict(
            compress=_PDF_FILTER_BY_MOD.get(doc_id % 9, True),
            font=_PDF_FONT_BY_MOD[doc_id % 5],
            indirect_length=doc_id % 5 == 0,
            # PDF-1.5 layouts (odd ids): cross-reference stream, with
            # objects packed into an /ObjStm every 4th id and the PNG Up
            # predictor on the xref rows every 8th — the layouts modern
            # writers actually emit
            xref_stream=doc_id % 2 == 1,
            use_objstm=doc_id % 4 == 1,
            predictor=doc_id % 8 == 1,
        )

    return _round_trip(
        _load(spark, sf_dir, "documents"),
        _pdf_row(layout),
        _text_schema("n_pages", "page1_chars"),
    )


_ORACLE_PDF_TEXT = """
SELECT doc_id,
       CAST(2 AS INT) AS n_pages,
       CAST(length(coalesce(text, '')) // 2 AS INT) AS page1_chars,
       CAST(length(coalesce(text, '')) AS INT) AS n_chars,
       coalesce(text, '') AS extracted_text
FROM documents
"""


def q_multimodal_mp4_meta(spark, sf_dir):
    """Header-only MP4/ISO-BMFF probe — the video analogue of the JPEG
    SOF/Exif probe: walk the box tree (32-bit AND 64-bit large-size
    boxes; unknown boxes like `free` skipped by size), read moov/mvhd
    for timescale+duration and each trak/tkhd for dims, never touch
    mdat.  At 100 TB this is a few hundred ranged-read bytes per video
    instead of a decode.  Synthesized shells vary timescale, duration,
    track count and dims analytically; every 3rd id's first tkhd uses
    the large-size form so both walker paths run under the oracle."""
    from pdf_extraction_spark.operators.mp4 import probe_mp4_df, synth_mp4_bytes
    from pdf_extraction_spark.operators.multimodal import synth_blobs

    d = _load(spark, sf_dir, "documents").select("doc_id")
    blobs = synth_blobs(d, "doc_id", synth_mp4_bytes)
    return probe_mp4_df(blobs, "media_id", "blob")


_ORACLE_MP4_META = """
WITH m AS (
  SELECT doc_id,
         1000 + doc_id % 5 * 200 AS timescale,
         doc_id % 900 + 100 AS dur,
         CAST(doc_id % 2 + 1 AS INT) AS nt,
         320 + doc_id % 4 * 160 AS w0,
         320 + (doc_id + 1) % 4 * 160 AS w1,
         180 + doc_id % 3 * 90 AS h0,
         180 + (doc_id + 1) % 3 * 90 AS h1
  FROM documents
)
SELECT doc_id AS media_id,
       'isom' AS brand,
       CAST(dur * 1000 // timescale AS BIGINT) AS duration_ms,
       nt AS n_tracks,
       CAST(CASE WHEN nt = 2 THEN GREATEST(w0, w1) ELSE w0 END AS INT) AS max_width,
       CAST(CASE WHEN nt = 2 THEN GREATEST(h0, h1) ELSE h0 END AS INT) AS max_height,
       CAST(1 AS INT) AS is_valid
FROM m
"""


def q_multimodal_mp3_meta(spark, sf_dir):
    """Header-only MP3 probe — the audio analogue of the MP4 box walk:
    skip the ID3v2 tag (syncsafe size), confirm the first MPEG-1
    Layer III frame sync against the NEXT frame (anti-false-sync), then
    walk frame headers (4 bytes each state their own length) for an
    exact frame count and duration (1152 samples/frame), stopping
    cleanly at the trailing ID3v1 'TAG' block.  No decode anywhere.
    Synthesized streams vary bitrate/sample-rate/frame-count
    analytically; the padding bit alternates per frame so the walk must
    honour per-frame lengths, and the DuckDB twin replays the
    formulas."""
    from pdf_extraction_spark.operators.mp3 import probe_mp3_df, synth_mp3_bytes
    from pdf_extraction_spark.operators.multimodal import synth_blobs

    d = _load(spark, sf_dir, "documents").select("doc_id")
    blobs = synth_blobs(d, "doc_id", synth_mp3_bytes)
    return probe_mp3_df(blobs, "media_id", "blob")


_ORACLE_MP3_META = """
WITH m AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 128 WHEN 1 THEN 192 ELSE 320 END AS br,
         CASE doc_id % 5 % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr,
         doc_id % 4 + 10 AS nf
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(50 AS INT) AS id3v2_bytes,
       CAST(br AS INT) AS bitrate_kbps,
       CAST(sr AS INT) AS sample_rate,
       CAST(nf AS INT) AS n_frames,
       CAST(nf * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
       CAST(1 AS INT) AS is_valid
FROM m
"""


def q_multimodal_ico_decode(spark, sf_dir):
    """REAL favicon (.ico) decode — a crawl's most common image blob:
    directory walk over two entries per icon, one headerless 32-bit
    BGRA DIB (doubled-height BITMAPINFOHEADER, bottom-up XOR block,
    legacy AND mask length-checked) and one complete PNG file (modern
    favicons embed PNG; decode dispatches to the real PNG codec).  The
    DuckDB twin recomputes the DIB stats from the md5 RGBA row formula
    and the PNG dims analytically — a directory, offset, BGRA-order,
    bottom-up, or PNG-dispatch defect breaks the value hash."""
    from pdf_extraction_spark.operators.ico import decode_ico, synth_ico_bytes
    from pdf_extraction_spark.operators.multimodal import synth_blobs

    d = _load(spark, sf_dir, "documents").select("doc_id")
    blobs = synth_blobs(d, "doc_id", synth_ico_bytes)
    return decode_ico(blobs, "media_id", "blob")


_ORACLE_ICO_DECODE = """
WITH m AS (
  SELECT doc_id, CAST(doc_id % 5 + 4 AS INT) AS w, CAST(doc_id % 4 + 4 AS INT) AS h
  FROM documents
),
rows_ AS (SELECT doc_id, w, h, unnest(range(h)) AS j FROM m),
rh AS (
  SELECT doc_id, w, h, j,
         substr(md5(CAST(doc_id AS VARCHAR) || ':i' || CAST(j AS VARCHAR) || ':a')
                || md5(CAST(doc_id AS VARCHAR) || ':i' || CAST(j AS VARCHAR) || ':b'),
                1, w*4*2) AS hx
  FROM rows_
),
b AS (SELECT doc_id, w, h, j, unnest(range(w*4)) AS k, hx FROM rh),
v AS (
  SELECT doc_id, w, h,
         CAST(('0x' || substr(hx, CAST(k*2 + 1 AS INT), 2)) AS INT) AS val,
         k % 4 AS chan
  FROM b
)
SELECT doc_id AS media_id, CAST(2 AS INT) AS n_images,
       w AS dib_width, h AS dib_height,
       CAST(sum(CASE WHEN chan = 0 THEN val END) * 1000 // (w*h) AS BIGINT) AS mean_r_milli,
       CAST(sum(CASE WHEN chan = 1 THEN val END) * 1000 // (w*h) AS BIGINT) AS mean_g_milli,
       CAST(sum(CASE WHEN chan = 2 THEN val END) * 1000 // (w*h) AS BIGINT) AS mean_b_milli,
       CAST(sum(CASE WHEN chan = 3 THEN val END) * 1000 // (w*h) AS BIGINT) AS mean_a_milli,
       w AS png_width, h AS png_height,
       CAST(1 AS INT) AS is_valid
FROM v GROUP BY doc_id, w, h
"""


def q_extract_docx_text(spark, sf_dir):
    """Text extraction from real .docx bytes — the other ubiquitous
    document container: each document's text becomes a valid
    WordprocessingML package (stdlib zipfile; two paragraphs, each
    split into multiple runs, with w:pPr/w:proofErr noise real writers
    emit), and the extractor must open the zip, parse the XML, join
    runs, and invert w:br/w:tab back to newline/tab.  The oracle
    replays only the XML-1.0 projection (C0 controls and carriage
    returns -> '?', a 1:1 char map so lengths are analytic), making
    extracted == sanitize(text) the identity any packaging or parsing
    defect breaks."""
    from pdf_extraction_spark.operators.docx_text import build_docx, extract_docx_paragraphs

    return _round_trip(
        _load(spark, sf_dir, "documents"),
        _split_row(build_docx, extract_docx_paragraphs),
        _text_schema("n_paragraphs", "para1_chars"),
    )


_ORACLE_DOCX_TEXT = r"""
SELECT doc_id,
       CAST(2 AS INT) AS n_paragraphs,
       CAST(length(coalesce(text, '')) // 2 AS INT) AS para1_chars,
       CAST(length(coalesce(text, '')) AS INT) AS n_chars,
       regexp_replace(regexp_replace(coalesce(text, ''), '\r', '?', 'g'),
                      '[\x00-\x08\x0B\x0C\x0E-\x1F\x{FFFE}\x{FFFF}]', '?', 'g') AS extracted_text
FROM documents
"""


def q_extract_pptx_text(spark, sf_dir):
    """Text extraction from real .pptx decks (round 5):
    each document's text becomes a two-slide presentation whose slide
    PARTS are named in reverse deck order, so extraction must resolve
    the deck through presentation.xml's sldIdLst + the rels part (a
    name-sorting extractor reads the deck backwards and breaks the
    hash).  Runs split mid-slide, <a:br/> carries newlines; the oracle
    replays the XML-1.0 projection — extracted == sanitize(text)."""
    from pdf_extraction_spark.operators.pptx_text import build_pptx, extract_pptx_slides

    return _round_trip(
        _load(spark, sf_dir, "documents"),
        _split_row(build_pptx, extract_pptx_slides),
        _text_schema("n_slides", "slide1_chars"),
    )


_ORACLE_PPTX_TEXT = r"""
SELECT doc_id,
       CAST(2 AS INT) AS n_slides,
       CAST(length(coalesce(text, '')) // 2 AS INT) AS slide1_chars,
       CAST(length(coalesce(text, '')) AS INT) AS n_chars,
       regexp_replace(regexp_replace(coalesce(text, ''), '\r', '?', 'g'),
                      '[\x00-\x08\x0B\x0C\x0E-\x1F\x{FFFE}\x{FFFF}]', '?', 'g') AS extracted_text
FROM documents
"""


def q_extract_odt_text(spark, sf_dir):
    """Text extraction from real .odt packages — the OpenDocument
    family (round 5): ODF encodes whitespace as ELEMENTS
    (text:tab, text:line-break, text:s with a count), so the builder
    emits them per spec — mimetype member first and STORED (ODF 1.2
    §3.3) — and extraction must invert every one across split spans.
    Shares the docx oracle: the XML projection and the paragraph shape
    are identical, so any ODF-specific defect breaks the same
    identity."""
    from pdf_extraction_spark.operators.odt_text import build_odt, extract_odt_paragraphs

    return _round_trip(
        _load(spark, sf_dir, "documents"),
        _split_row(build_odt, extract_odt_paragraphs),
        _text_schema("n_paragraphs", "para1_chars"),
    )


def q_extract_xlsx_text(spark, sf_dir):
    """Text extraction from real .xlsx workbooks — the OOXML container
    whose text layer is INDIRECT (round 5):
    each document's text becomes a real workbook (2x2 grid of text
    quarters + a numeric length cell) whose cells cycle the three value
    encodings Excel emits — shared strings (the value is an index into
    xl/sharedStrings.xml), inline strings, and native number cells —
    and whose worksheet path is resolved through the workbook rels
    part.  The oracle replays the XML-1.0 projection and appends the
    length cell's digits, so any defect in the package, the rels
    resolution, the shared-string table, or any cell decoding breaks
    the value hash."""
    return _round_trip(
        _load(spark, sf_dir, "documents"), _xlsx_row(), _text_schema("n_rows", "n_cells")
    )


_ORACLE_XLSX_TEXT = r"""
SELECT doc_id,
       CAST(3 AS INT) AS n_rows,
       CAST(5 AS INT) AS n_cells,
       CAST(length(coalesce(text, ''))
            + length(CAST(length(coalesce(text, '')) AS VARCHAR)) AS INT)
         AS n_chars,
       regexp_replace(regexp_replace(coalesce(text, ''), '\r', '?', 'g'),
                      '[\x00-\x08\x0B\x0C\x0E-\x1F\x{FFFE}\x{FFFF}]', '?', 'g')
         || CAST(length(coalesce(text, '')) AS VARCHAR) AS extracted_text
FROM documents
"""


def q_extract_rtf_text(spark, sf_dir):
    """Text extraction from real RTF bytes — the legacy rich-text
    format web corpora still carry (round 5):
    each document's text becomes a real RTF 1.x file (font/color
    tables, an ignorable \\*\\generator destination, each paragraph
    split across two adjacent groups) and the from-scratch tokenizer
    must skip destinations, merge groups, honour \\ucN fallback
    skipping, recombine \\uN surrogate pairs, and decode \\'hh bytes
    via the declared codepage.  Unlike the XML containers, RTF carries
    EVERY character (hex/unicode escapes), so the oracle is the exact
    identity — no sanitize projection at all."""
    from pdf_extraction_spark.operators.rtf_text import build_rtf, extract_rtf_paragraphs

    return _round_trip(
        _load(spark, sf_dir, "documents"),
        _split_row(build_rtf, extract_rtf_paragraphs),
        _text_schema("n_paragraphs", "para1_chars"),
    )


_ORACLE_RTF_TEXT = r"""
SELECT doc_id,
       CAST(2 AS INT) AS n_paragraphs,
       CAST(length(coalesce(text, '')) // 2 AS INT) AS para1_chars,
       CAST(length(coalesce(text, '')) AS INT) AS n_chars,
       coalesce(text, '') AS extracted_text
FROM documents
"""


def q_extract_epub_text(spark, sf_dir):
    """Text extraction from real .epub packages — the packaged-book
    container whose content is resolved INDIRECTLY: container.xml names
    the OPF, whose manifest maps ids to hrefs (relative to the OPF's
    directory) and whose spine orders the chapters; a non-spine
    stylesheet item must be ignored.  Two chapters per document, the
    same XML-1.0 projection as the docx entry, so the oracle states the
    identical analytic sanitize-identity — any container, OPF, href
    resolution, spine-order, or XHTML-walk defect breaks it."""
    from pdf_extraction_spark.operators.epub_text import build_epub, extract_epub_chapters

    return _round_trip(
        _load(spark, sf_dir, "documents"),
        _split_row(build_epub, extract_epub_chapters),
        _text_schema("n_chapters", "chap1_chars"),
    )


_ORACLE_EPUB_TEXT = r"""
SELECT doc_id,
       CAST(2 AS INT) AS n_chapters,
       CAST(length(coalesce(text, '')) // 2 AS INT) AS chap1_chars,
       CAST(length(coalesce(text, '')) AS INT) AS n_chars,
       regexp_replace(regexp_replace(coalesce(text, ''), '\r', '?', 'g'),
                      '[\x00-\x08\x0B\x0C\x0E-\x1F\x{FFFE}\x{FFFF}]', '?', 'g') AS extracted_text
FROM documents
"""


def q_multimodal_tiff_decode(spark, sf_dir):
    """REAL TIFF 6.0 decode — the classic scanned-document container:
    IFD walk in BOTH byte orders (II for even ids, MM for odd), inline
    and offset tag values, multi-strip assembly with a partial last
    strip (RowsPerStrip 2), and the baseline compressions cycling by
    id % 3: uncompressed, PackBits, and TIFF-LZW + Predictor 2
    (horizontal differencing) — the LZW core is the SAME code as the
    PDF LZWDecode filter, which the spec defines identically.  The
    DuckDB twin replays the md5 row formula analytically; any IFD,
    strip, PackBits, LZW, or predictor defect breaks the value hash."""
    from pdf_extraction_spark.operators.multimodal import synth_blobs
    from pdf_extraction_spark.operators.tiff import decode_tiff, synth_tiff_bytes

    d = _load(spark, sf_dir, "documents").select("doc_id")
    blobs = synth_blobs(d, "doc_id", synth_tiff_bytes)
    return decode_tiff(blobs, "media_id", "blob")


_ORACLE_TIFF_DECODE = """
WITH m AS (
  SELECT doc_id, CAST(5 + doc_id % 6 AS INT) AS w, CAST(4 + doc_id % 5 AS INT) AS h
  FROM documents
),
rows_ AS (SELECT doc_id, w, h, unnest(range(h)) AS j FROM m),
rh AS (
  SELECT doc_id, w, h, j,
         substr(md5(CAST(doc_id AS VARCHAR) || ':t' || CAST(j AS VARCHAR) || ':a')
                || md5(CAST(doc_id AS VARCHAR) || ':t' || CAST(j AS VARCHAR) || ':b'),
                1, w*3*2) AS hx
  FROM rows_
),
b AS (SELECT doc_id, w, h, j, unnest(range(w*3)) AS k, hx FROM rh),
v AS (
  SELECT doc_id, w, h, j, k,
         CAST(('0x' || substr(hx, CAST(k*2 + 1 AS INT), 2)) AS INT) AS val,
         k % 3 AS chan
  FROM b
)
SELECT doc_id AS media_id, w AS width, h AS height,
       CAST(sum(CASE WHEN chan = 0 THEN val END) * 1000 // (w*h) AS BIGINT) AS mean_r_milli,
       CAST(sum(CASE WHEN chan = 1 THEN val END) * 1000 // (w*h) AS BIGINT) AS mean_g_milli,
       CAST(sum(CASE WHEN chan = 2 THEN val END) * 1000 // (w*h) AS BIGINT) AS mean_b_milli,
       CAST(max(CASE WHEN j = 0 AND k = 0 THEN val END) AS INT) AS tl_r,
       CAST(max(CASE WHEN j = 0 AND k = 1 THEN val END) AS INT) AS tl_g,
       CAST(max(CASE WHEN j = 0 AND k = 2 THEN val END) AS INT) AS tl_b,
       CAST(1 AS INT) AS is_valid
FROM v GROUP BY doc_id, w, h
"""


def q_multimodal_tiff_g4(spark, sf_dir):
    """REAL CCITT Group 4 (ITU-T T.6 / MMR) decode inside TIFF — the
    compression real document scanners emit (round 5):
    bilevel files (PhotometricInterpretation 0, 1 bit/sample, strips
    of 3 rows so multi-strip assembly and a partial last strip occur,
    II/MM by parity) cycling the FULL fax family by id % 5:
    Compression=4 T.6 streams — pass / horizontal / vertical coding
    against the reference line, T.4 white/black run alphabets, EOFB —
    plus Compression=3 Group 3 (EOL-framed T.4, both pure 1-D and the
    mixed 2-D scheme with per-line tag bits and K=2, per T4Options)
    Compression=2 bare Modified Huffman (byte-aligned rows), and
    Compression=1 raw packed bits (MSB-first, byte-padded rows) —
    the fax variants decoded by the from-scratch codec in
    operators/ccitt.py.  Pixels
    are ink iff their shared md5-formula byte >= 128, so the DuckDB
    twin replays the exact bilevel image analytically
    (compression-invariant by construction): any mode-coding,
    run-table, EOL-framing, strip, or IFD defect breaks the value
    hash."""
    from pdf_extraction_spark.operators.multimodal import synth_blobs
    from pdf_extraction_spark.operators.tiff import decode_tiff, synth_tiff_g4_bytes

    d = _load(spark, sf_dir, "documents").select("doc_id")
    blobs = synth_blobs(d, "doc_id", synth_tiff_g4_bytes)
    return decode_tiff(blobs, "media_id", "blob")


_ORACLE_TIFF_G4 = """
WITH m AS (
  SELECT doc_id, CAST(20 + doc_id % 13 AS INT) AS w, CAST(10 + doc_id % 7 AS INT) AS h
  FROM documents
),
rows_ AS (SELECT doc_id, w, h, unnest(range(h)) AS j FROM m),
rh AS (
  SELECT doc_id, w, h, j,
         substr(md5(CAST(doc_id AS VARCHAR) || ':g' || CAST(j AS VARCHAR) || ':a')
                || md5(CAST(doc_id AS VARCHAR) || ':g' || CAST(j AS VARCHAR) || ':b'),
                1, w*2) AS hx
  FROM rows_
),
b AS (SELECT doc_id, w, h, j, unnest(range(w)) AS k, hx FROM rh),
v AS (
  SELECT doc_id, w, h, j, k,
         CASE WHEN CAST(('0x' || substr(hx, CAST(k*2 + 1 AS INT), 2)) AS INT) >= 128
              THEN 0 ELSE 255 END AS val
  FROM b
)
SELECT doc_id AS media_id, w AS width, h AS height,
       CAST(sum(val) * 1000 // (w*h) AS BIGINT) AS mean_r_milli,
       CAST(sum(val) * 1000 // (w*h) AS BIGINT) AS mean_g_milli,
       CAST(sum(val) * 1000 // (w*h) AS BIGINT) AS mean_b_milli,
       CAST(max(CASE WHEN j = 0 AND k = 0 THEN val END) AS INT) AS tl_r,
       CAST(max(CASE WHEN j = 0 AND k = 0 THEN val END) AS INT) AS tl_g,
       CAST(max(CASE WHEN j = 0 AND k = 0 THEN val END) AS INT) AS tl_b,
       CAST(1 AS INT) AS is_valid
FROM v GROUP BY doc_id, w, h
"""


def q_extract_pdf_encrypted(spark, sf_dir):
    """Text extraction from ENCRYPTED %PDF bytes: the standard security
    handler with empty passwords (doc_id%5 cycles RC4 V1/R2 40-bit,
    V2/R3 128-bit, V4/R4 AES-128 /AESV2, V5/R6 AES-256 /AESV3 — ISO
    32000-2 Algorithm 2.B hash, /UE file-key unwrap, /Perms integrity
    check — and the deprecated Acrobat-9 V5/R5) — the open-for-anyone
    permissions-only encryption legacy web PDFs carry.  The
    from-scratch parser verifies /U (Algorithms 4/5, or the V5 salted
    hash), derives the file key (Algorithm 2 incl. the R3 50-fold MD5;
    V5: AES-256-CBC unwrap of /UE), walks the /CF crypt-filter
    dictionary for V4/V5, and decrypts every stream (AES: CBC +
    prepended IV + PKCS#5; V5 with the file key directly, V4 with the
    per-object MD5 key) before filters; layouts alternate xref table /
    xref stream / ObjStm and every 7th id vandalizes startxref so scan
    recovery runs THROUGH decryption.  The oracle is the same analytic
    identity as extract_pdf_text — any key-derivation or decryption
    defect breaks the value hash on every row."""

    def layout(doc_id):
        return dict(
            # all five handler flavors — RC4 R2, RC4 R3, V4/R4 AES-128
            # crypt filters, V5/R6 AES-256 (ISO 32000-2 Algorithm 2.B
            # hash + /UE key unwrap + /Perms check) and the deprecated
            # Acrobat-9 V5/R5; layouts alternate so decryption composes
            # with xref streams, ObjStm packing (the whole packed payload
            # is one encrypted stream), and — every 7th id — the
            # damaged-xref scan recovery
            encrypt={
                0: "rc4-40",
                1: "rc4-128",
                2: "aes-128",
                3: "aes-256",
                4: "aes-256-r5",
            }[doc_id % 5],
            xref_stream=doc_id % 3 == 0,
            # % 6 keeps ObjStm inside xref_stream ids AND cycles it
            # across all five ciphers (6 mod 5 walks 1,2,3,4,0)
            use_objstm=doc_id % 6 == 0,
        )

    return _round_trip(
        _load(spark, sf_dir, "documents"),
        _pdf_row(layout),
        _text_schema("n_pages", "page1_chars"),
    )


# ---------------------------------------------------------------------------
# HTML main-content extraction (the north-star boilerplate strip)
# ---------------------------------------------------------------------------

def q_extract_html_main(spark, sf_dir):
    """North-star HTML boilerplate strip, value-checked against an ANALYTIC
    oracle: Spark runs the real scanner kernel (mapInArrow) over HTML
    constructed deterministically from `documents`; DuckDB derives the
    expected extracted text directly from the same source columns (it never
    parses HTML).  Construction guarantees each block's fate: the nav block
    is 100% link chars (always dropped), the 'Key:' block contains a colon
    (always kept), the padded block is >=25 chars (always kept)."""
    from pdf_extraction_spark.operators.extract import extract_documents

    d = _load(spark, sf_dir, "documents")
    clean = F.regexp_replace(F.expr("substring(text, 1, 400)"), "[&<>]", "")
    words = F.split(clean, " ")
    b1 = F.concat_ws(" ", F.slice(words, 1, 8))
    b2 = F.concat_ws(" ", F.slice(words, 9, 10))
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit('</title></head><body><div class="menu bar">boilerplate</div>'),
        F.lit('<p><a href="/nav">pure link block dropped</a></p>'),
        F.lit("<p>Key: "), b1, F.lit("</p><p>"), b2,
        F.lit(" padded-to-exceed-twentyfive-characters</p></body></html>"),
    )
    pages = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
    )
    out = extract_documents(pages)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        "extracted_text",
        F.size("fields").cast("long").alias("n_fields"),
        "error",
    )


_ORACLE_HTML_MAIN = r"""
WITH d AS (
  SELECT doc_id,
         string_split(regexp_replace(substr(text, 1, 400), '[&<>]', '', 'g'), ' ')
           AS ws
  FROM documents
),
b AS (
  SELECT doc_id,
         trim(regexp_replace('Key: ' || array_to_string(list_slice(ws, 1, 8), ' '),
                             '\s+', ' ', 'g')) AS blk1,
         trim(regexp_replace(array_to_string(list_slice(ws, 9, 18), ' ')
                             || ' padded-to-exceed-twentyfive-characters',
                             '\s+', ' ', 'g')) AS blk2
  FROM d
)
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) || chr(10)
         || blk1 || chr(10) || blk2 || chr(10) AS extracted_text,
       CAST(1 AS BIGINT) AS n_fields,
       CAST(NULL AS VARCHAR) AS error
FROM b
"""


# ---------------------------------------------------------------------------
# Full-pipeline entries (kernel semantics, value-checked: the pipeline's
# scalar projection has an ANALYTIC DuckDB twin — see _ORACLE_PIPELINE —
# and byte-level correctness additionally runs in pytest golden fixtures)
# ---------------------------------------------------------------------------

def q_extraction_pipeline(spark, sf_dir):
    """The flagship extraction: synthetic pages from `documents` (multi-page
    via \\x0c, Field: Value lines) through the full kernel — direct fields,
    OCR-style page fields, spans, error containment.

    The scalar projection is value-checked against an analytically
    constructed DuckDB oracle (_ORACLE_PIPELINE).  The input is built so
    every kernel decision is provable from the corpus invariants (verified
    at every sf: `text` is non-empty `[a-z ]`-only — no colons, digits, or
    line boundaries; `lang` is 2 letters; `source` is `srcN`):

      * pages = [P1, P2] (one \\x0c), both non-empty -> extracted_text is
        P1+"\\n"+P2+"\\n" (F4) and its length is computable in SQL;
      * direct fields (F6-F10) over the 9 lines: Title, Lang, Time, Body,
        Chars (the second `Lang:` line last-wins into the same key; the
        no-colon lines are skipped) -> n_fields = 5;
      * OCR state machine (F11-F13): P1 keeps {Lang:<lang>, plain line...,
        Lang:<lang>-dup} (the Title line has digits and precedes any
        field -> dropped; Body has >5 words -> appended), P2 keeps
        {Second Page Header} -> both page dicts non-empty -> 2;
      * spans: 1 body + 5 field-name hits + 0 dates (no `\\d\\d\\d\\d-`,
        no `/`, no capitalized month in the corpus) -> n_spans = 6.
    """
    from pdf_extraction_spark.operators.extract import (
        extract_documents,
        salted_repartition,
    )

    d = _load(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("binary").alias("html"),
        F.concat(
            _page_col(), F.lit("\x0c"),
            F.lit("Second Page Header\n"), F.expr("substring(text, 1, 120)"),
            F.lit(" 42"),
        ).alias("text"),
    )
    out = extract_documents(salted_repartition(pages, 16, salt_buckets=4))
    return out.select(
        "url",
        "doc_kind",
        F.length("extracted_text").cast("long").alias("text_len"),
        F.size("fields").cast("long").alias("n_fields"),
        F.size("page_fields").cast("long").alias("n_pages_with_fields"),
        F.size("spans").cast("long").alias("n_spans"),
        "error",
    )


_ORACLE_PIPELINE = f"""
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       'text' AS doc_kind,
       CAST(length({_DK_PAGE} || chr(10) || 'Second Page Header' || chr(10)
                   || substr(text, 1, 120) || ' 42' || chr(10)) AS BIGINT)
         AS text_len,
       CAST(5 AS BIGINT) AS n_fields,
       CAST(2 AS BIGINT) AS n_pages_with_fields,
       CAST(6 AS BIGINT) AS n_spans,
       CAST(NULL AS VARCHAR) AS error
FROM documents
"""


def q_extract_ocr_fields(spark, sf_dir):
    """F11–F13 (OCR-path classifier + stateful fold + empty-page drop),
    value-checked: pages are constructed so every line's fate under the
    state machine [pdfextraction.py:72-91] is guaranteed analytically.

    Per document, page 1 is:
        preamble dropped 123     (digit, before first field -> DROPPED)
        Header Alpha             (<=5 words, no digit -> field)
        value one 1              (digit -> appended to Header Alpha)
        value two 2              (digit -> appended with ' ')
        Header <lang>            (no digit -> new field; langs are [a-z]+)
        row <doc_id>             (digit -> its value)
        Header Alpha             (repeat -> RESETS value, keeps position)
        reset <n_chars>          (digit -> new value)
    so the page dict is exactly [(Header Alpha, reset <n_chars>),
    (Header <lang>, row <doc_id>)].  Page 2 is whitespace-only and page 3
    has only value lines — both yield empty dicts and are dropped (F13).
    """
    from pdf_extraction_spark.operators.extract import extract_documents

    d = _load(spark, sf_dir, "documents")
    nl = F.lit("\n")
    page1 = F.concat(
        F.lit("preamble dropped 123"), nl,
        F.lit("Header Alpha"), nl,
        F.lit("value one 1"), nl,
        F.lit("value two 2"), nl,
        F.lit("Header "), F.col("lang"), nl,
        F.lit("row "), F.col("doc_id").cast("string"), nl,
        F.lit("Header Alpha"), nl,
        F.lit("reset "), F.col("n_chars").cast("string"),
    )
    text = F.concat(
        page1,
        F.lit("\x0c   \n\t\x0conly value lines 99\nand another 7"),
    )
    pages = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("binary").alias("html"),
        text.alias("text"),
    )
    out = extract_documents(pages)
    return (
        out.select(
            F.col("url").cast("long").alias("doc_id"),
            F.size("page_fields").cast("long").alias("n_pages_with_fields"),
            F.posexplode("page_fields").alias("page_idx", "pf"),
        )
        .select(
            "doc_id",
            "n_pages_with_fields",
            F.col("page_idx").cast("long").alias("page_idx"),
            F.posexplode("pf").alias("ord", "kv"),
        )
        .select(
            "doc_id",
            "n_pages_with_fields",
            "page_idx",
            F.col("ord").cast("long").alias("ord"),
            F.col("kv.field").alias("field"),
            F.col("kv.value").alias("value"),
        )
    )


_ORACLE_OCR_FIELDS = """
WITH e AS (
  SELECT doc_id, 0 AS ord, 'Header Alpha' AS field,
         'reset ' || CAST(n_chars AS VARCHAR) AS value
  FROM documents
  UNION ALL
  SELECT doc_id, 1 AS ord, 'Header ' || lang AS field,
         'row ' || CAST(doc_id AS VARCHAR) AS value
  FROM documents
)
SELECT doc_id, CAST(1 AS BIGINT) AS n_pages_with_fields,
       CAST(0 AS BIGINT) AS page_idx, CAST(ord AS BIGINT) AS ord,
       field, value
FROM e
"""


def q_extraction_skewed(spark, sf_dir):
    """Flagship kernel over a SIZE-SKEWED corpus with the oversize guard:
    every 25th document's body is replicated 12x (a >10x size outlier —
    the pathological-host shape salting exists for), the pages flow
    through ``salted_repartition(salt_buckets=8)`` so the giants spread
    across salt buckets instead of stacking on one partition (the salted
    plan is asserted in tests/test_plan_quality.py), and
    ``max_doc_chars=2000`` routes documents whose page text exceeds the
    cap onto ``error`` (F18) with the exact deterministic message the
    oracle reconstructs from ``length()``.  Survivors extract exactly
    the fields {Title, Body} (the corpus body is colon-free)."""
    from pdf_extraction_spark.operators.extract import (
        extract_documents,
        salted_repartition,
    )

    d = _load(spark, sf_dir, "documents")
    body = F.expr("repeat(text, CASE WHEN doc_id % 25 = 0 THEN 12 ELSE 1 END)")
    pages = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("binary").alias("html"),
        F.concat(
            F.lit("Title: "), F.col("source"), F.lit(" report\n"),
            F.lit("Body: "), body,
        ).alias("text"),
    )
    out = extract_documents(
        salted_repartition(pages, 32, salt_buckets=8), max_doc_chars=2000
    )
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        "doc_kind",
        F.col("error").isNotNull().alias("failed"),
        F.when(F.col("error").isNull(), F.size("fields"))
        .cast("long")
        .alias("n_fields"),
        "error",
    )


_ORACLE_EXTRACTION_SKEWED = """
WITH p AS (
  SELECT doc_id,
         'Title: ' || source || ' report' || chr(10) || 'Body: '
           || repeat(text, CASE WHEN doc_id % 25 = 0 THEN 12 ELSE 1 END)
           AS page
  FROM documents
)
SELECT doc_id,
       CASE WHEN length(page) > 2000 THEN 'error' ELSE 'text' END AS doc_kind,
       length(page) > 2000 AS failed,
       CASE WHEN length(page) > 2000 THEN NULL
            ELSE CAST(2 AS BIGINT) END AS n_fields,
       CASE WHEN length(page) > 2000
            THEN 'ValueError: document exceeds max_doc_chars=2000 ('
                 || CAST(length(page) AS VARCHAR) || ')'
            ELSE NULL END AS error
FROM p
"""


def q_llm_enrich_error(spark, sf_dir):
    """F17 error-dict branch (app.py:80-81): generations whose prompt
    exceeds the model's input budget fail onto ``error``; exactly one of
    (generated_text, error) is non-null per document."""
    from pdf_extraction_spark.operators.llm_stub import enrich_llm

    d = _load(spark, sf_dir, "documents")
    out = enrich_llm(d, "doc_id", "text", task="summarize", max_input_chars=500)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("prompt").cast("long").alias("prompt_len"),
        F.col("generated_text").isNotNull().alias("generated"),
        "error",
    )


_ORACLE_LLM_ERROR = """
WITH p AS (
  SELECT doc_id,
         length('Task: summarize' || chr(10) || chr(10) || 'PDF Content:'
                || chr(10) || substr(text, 1, 3000)) AS prompt_len
  FROM documents
)
SELECT doc_id, CAST(prompt_len AS BIGINT) AS prompt_len,
       prompt_len <= 500 AS generated,
       CASE WHEN prompt_len > 500
            THEN 'input too long: ' || CAST(prompt_len AS VARCHAR) || ' > 500 chars'
            ELSE NULL END AS error
FROM p
"""


def q_csv_export_bytes(spark, sf_dir):
    """F14+F15 — the reference's exact download bytes, driver-checked:
    a bounded slice (doc_id < 20, the edge-export regime the reference
    operates in) runs kernel KV extraction, serializes each document
    through records_to_csv_bytes (pandas to_csv semantics: union-of-keys
    header, UTF-8 WITHOUT BOM, '\\n' terminator incl. trailing), and emits
    md5 + byte length of the real bytes.  The oracle constructs the
    expected CSV string analytically (values are sanitized of
    [",\\r\\n] at page-construction time so pandas QUOTE_MINIMAL adds no
    quoting) and hashes it in DuckDB."""
    import hashlib

    from pyspark.sql.types import DataType

    from pdf_extraction_spark.operators.extract import extract_documents
    from pdf_extraction_spark.plans.csv_export import records_to_csv_bytes
    from pdf_extraction_spark.session import local_frame

    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    body = F.regexp_replace(
        F.expr("substring(text, 1, 80)"), r'["\r\n,]', ""
    )
    nl = F.lit("\n")
    page = F.concat(
        F.lit("Title: "), F.col("source"), F.lit(" report "),
        F.col("doc_id").cast("string"), nl,
        F.lit("Lang: "), F.col("lang"), nl,
        F.lit("plain line without separator"), nl,
        F.lit("Time: 12:30:45"), nl,
        F.lit("Body: "), body, nl,
        F.lit("Chars: "), F.col("n_chars").cast("string"), nl,
        F.lit("Lang: "), F.col("lang"), F.lit("-dup"),
    )
    pages = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(None).cast("binary").alias("html"),
        page.alias("text"),
    )
    rows = extract_documents(pages).select("url", "fields").collect()
    out = []
    for r in sorted(rows, key=lambda r: int(r["url"])):
        pairs = [(p["field"], p["value"]) for p in r["fields"]]
        csv = records_to_csv_bytes([pairs])
        out.append((int(r["url"]), hashlib.md5(csv).hexdigest(), len(csv)))
    schema = DataType.fromDDL("doc_id long, csv_md5 string, n_bytes long")
    return local_frame(spark, out, schema)


_ORACLE_CSV_BYTES = r"""
WITH d AS (
  SELECT doc_id,
         source || ' report ' || CAST(doc_id AS VARCHAR) AS v_title,
         lang || '-dup' AS v_lang,
         trim(regexp_replace(substr(text, 1, 80), '["\r\n,]', '', 'g')) AS v_body,
         CAST(n_chars AS VARCHAR) AS v_chars
  FROM documents WHERE doc_id < 20
),
c AS (
  SELECT doc_id,
         'Title,Lang,Time,Body,Chars' || chr(10) ||
         v_title || ',' || v_lang || ',12:30:45,' || v_body || ',' || v_chars
         || chr(10) AS csv
  FROM d
)
SELECT doc_id, md5(csv) AS csv_md5, CAST(strlen(csv) AS BIGINT) AS n_bytes
FROM c
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extraction_pipeline(spark, DEFAULT_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registry: every entry, each with a DuckDB twin in
    ``oracle_sql()``.  The driver snapshots only the first 50 keys, so the
    registry stays within 50 entries (tests/test_registry.py)."""
    return {
        # extraction operators (SURVEY §2)
        "extract_kv_kernel": q_extract_kv_kernel,
        "extract_kv_wide": q_extract_kv_wide,
        "extract_prompt_truncate": q_extract_prompt_truncate,
        "extract_html_main": q_extract_html_main,
        "filter_nonempty_by_lang": q_filter_nonempty_by_lang,
        "extraction_pipeline": q_extraction_pipeline,
        "extract_ocr_fields": q_extract_ocr_fields,
        "extraction_skewed": q_extraction_skewed,
        "extract_pdf_text": q_extract_pdf_text,
        "llm_enrich_error": q_llm_enrich_error,
        "csv_export_bytes": q_csv_export_bytes,
        # text analysis
        "quality_filter": q_quality_filter,
        "lang_id": q_lang_id,
        "fingerprint_winnow": q_fingerprint_winnow,
        "token_stats_bpe": q_token_stats_bpe,
        # dedup
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_clusters_star": q_dedup_clusters_star,
        "dedup_incremental": q_dedup_incremental,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        # training-data curation extras
        "pii_scrub": q_pii_scrub,
        "sample_stratified": q_sample_stratified,
        "token_budget_pack": q_token_budget_pack,
        "chunk_documents": q_chunk_documents,
        # similarity search
        "similarity_lsh_bucketed": q_similarity_lsh_bucketed,
        "similarity_ivf_topk": q_similarity_ivf_topk,
        # multimodal (binary columns)
        "multimodal_png_decode": q_multimodal_png_decode,
        "multimodal_png_interlaced": q_multimodal_png_interlaced,
        "multimodal_gif_decode": q_multimodal_gif_decode,
        "multimodal_gif_animated": q_multimodal_gif_animated,
        "multimodal_jpeg_decode": q_multimodal_jpeg_decode,
        "multimodal_jpeg_progressive": q_multimodal_jpeg_progressive,
        "multimodal_jpeg_meta": q_multimodal_jpeg_meta,
        "ocr_raster_roundtrip": q_ocr_raster_roundtrip,
        "extract_pdf_scanned": q_extract_pdf_scanned,
        "extract_pdf_encrypted": q_extract_pdf_encrypted,
        "multimodal_tiff_decode": q_multimodal_tiff_decode,
        "multimodal_tiff_g4": q_multimodal_tiff_g4,
        "extract_docx_text": q_extract_docx_text,
        "extract_xlsx_text": q_extract_xlsx_text,
        "extract_pptx_text": q_extract_pptx_text,
        "extract_odt_text": q_extract_odt_text,
        "extract_rtf_text": q_extract_rtf_text,
        "extract_epub_text": q_extract_epub_text,
        "multimodal_ico_decode": q_multimodal_ico_decode,
        "multimodal_mp4_meta": q_multimodal_mp4_meta,
        "multimodal_mp3_meta": q_multimodal_mp3_meta,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extract_kv_kernel": _ORACLE_KV,
        "extract_kv_wide": _ORACLE_KV_WIDE,
        "extract_prompt_truncate": _ORACLE_PROMPT,
        "extract_html_main": _ORACLE_HTML_MAIN,
        "filter_nonempty_by_lang": _ORACLE_NONEMPTY,
        "extract_ocr_fields": _ORACLE_OCR_FIELDS,
        "extraction_skewed": _ORACLE_EXTRACTION_SKEWED,
        "extract_pdf_text": _ORACLE_PDF_TEXT,
        "llm_enrich_error": _ORACLE_LLM_ERROR,
        "csv_export_bytes": _ORACLE_CSV_BYTES,
        "extraction_pipeline": _ORACLE_PIPELINE,
        "quality_filter": _ORACLE_QUALITY_FILTER,
        "lang_id": _ORACLE_LANG_ID,
        "fingerprint_winnow": _ORACLE_WINNOW,
        "token_stats_bpe": _ORACLE_TOKEN_BPE,
        "dedup_exact": _ORACLE_DEDUP_EXACT,
        "dedup_ngram_jaccard": _ORACLE_JACCARD,
        "dedup_minhash_lsh": _ORACLE_MINHASH,
        "dedup_simhash": _ORACLE_SIMHASH,
        "dedup_clusters_star": _ORACLE_CLUSTERS,
        "dedup_incremental": _ORACLE_INCREMENTAL,
        "dedup_embedding_cosine": _ORACLE_EMB_NEARDUP,
        "pii_scrub": _ORACLE_PII,
        "sample_stratified": _ORACLE_SAMPLE,
        "token_budget_pack": _ORACLE_BUDGET,
        "chunk_documents": _ORACLE_CHUNKS,
        "similarity_lsh_bucketed": _ORACLE_TOPK_LSH,
        "similarity_ivf_topk": _ORACLE_IVF_TOPK,
        "multimodal_png_decode": _ORACLE_PNG_DECODE,
        "multimodal_png_interlaced": _ORACLE_PNG_DECODE,
        "multimodal_gif_decode": _ORACLE_GIF_DECODE,
        "multimodal_gif_animated": _ORACLE_GIF_ANIMATED,
        "multimodal_jpeg_decode": _ORACLE_JPEG_DECODE,
        "multimodal_jpeg_progressive": _ORACLE_JPEG_DECODE,
        "multimodal_jpeg_meta": _ORACLE_JPEG_META,
        "ocr_raster_roundtrip": _ORACLE_OCR_ROUNDTRIP,
        "extract_pdf_scanned": _ORACLE_PDF_SCANNED,
        "extract_pdf_encrypted": _ORACLE_PDF_TEXT,
        "multimodal_tiff_decode": _ORACLE_TIFF_DECODE,
        "multimodal_tiff_g4": _ORACLE_TIFF_G4,
        "extract_docx_text": _ORACLE_DOCX_TEXT,
        "extract_xlsx_text": _ORACLE_XLSX_TEXT,
        "extract_pptx_text": _ORACLE_PPTX_TEXT,
        "extract_odt_text": _ORACLE_DOCX_TEXT,
        "extract_rtf_text": _ORACLE_RTF_TEXT,
        "extract_epub_text": _ORACLE_EPUB_TEXT,
        "multimodal_ico_decode": _ORACLE_ICO_DECODE,
        "multimodal_mp4_meta": _ORACLE_MP4_META,
        "multimodal_mp3_meta": _ORACLE_MP3_META,
    }
