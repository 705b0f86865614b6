"""LLM-training-data pipeline operators over `documents`: exact dedup,
near-dup (word-Jaccard, MinHash+LSH, SimHash), text quality/stats, language
ID, token counting, fingerprinting. Goal-derived (BASELINE.json north star).

Scale design: every near-dup path generates candidates by equi-join on a
blocking key (hash bucket / LSH band bucket) — never a cross join — so cost
is bounded by bucket density, not corpus size squared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from db_core_spark.functions.text import (
    EN_STOPWORDS,
    MINHASH_P,
    distinct_words,
    minhash_coeffs,
    portable_hash60,
    rolling_fingerprint,
    shingle_posting,
    shingles,
    simhash_frame,
    words,
)
from db_core_spark.registry import query
from db_core_spark.tables import table


@query(
    "dedup_exact_groups",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    HAVING COUNT(*) > 1
    """,
    category="llm",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: one shuffle on sha256(text); keeps the
    smallest doc_id as canonical. Hashing first means the shuffle moves
    64-byte keys, not document bodies — the right shape at 100 TB."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@query(
    "dedup_exact_keep",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
    category="llm",
)
def dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving set after exact dedup (first doc_id per distinct text).

    Keyed by sha256(text), not text: the r6 window formulation partitioned
    BY the text column itself, shuffling full document bodies — the exact
    scale-killer dedup_exact_groups avoids (caught by the r7 sf1 sweep:
    2.9x per 10x data, vs a flat scan+sha2 baseline). min_by gives a hash
    aggregate with map-side partial combine, so the exchange carries one
    (32-byte hash, winner-struct) row per distinct doc per map task —
    strictly less than the window's one-row-per-doc sort shuffle."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("_h"))
        .agg(
            F.min_by(F.struct("doc_id", "lang", "source"), F.col("doc_id")).alias("_w")
        )
        .select("_w.doc_id", "_w.lang", "_w.source")
    )


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(len(string_split_regex(text, '\\s+')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split_regex(text, '\\s+'))) AS INT) AS n_unique_tokens,
           ROUND(LENGTH(text) * 1.0 / len(string_split_regex(text, '\\s+')), 4) AS avg_token_len,
           ROUND(len(list_distinct(string_split_regex(text, '\\s+'))) * 1.0
                 / len(string_split_regex(text, '\\s+')), 4) AS ttr
    FROM documents
    """,
    category="llm",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: char/token/unique-token counts, mean
    token length, type-token ratio (a standard quality signal)."""
    d = table(spark, sf_dir, "documents")
    toks = words(F.col("text"))
    uniq = distinct_words(F.col("text"))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(uniq).alias("n_unique_tokens"),
        F.round(F.length("text") / F.size(toks), 4).alias("avg_token_len"),
        F.round(F.size(uniq) / F.size(toks), 4).alias("ttr"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             string_split_regex(text, '\\s+') AS toks,
             LENGTH(text) AS n_chars
      FROM documents)
    SELECT doc_id, lang,
           ROUND(len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) * 1.0
                 / len(toks), 4) AS stopword_ratio,
           ROUND(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS ttr,
           CASE WHEN len(toks) BETWEEN 20 AND 1000
                 AND len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) * 1.0
                     / len(toks) > 0.02
                THEN 'keep' ELSE 'flag' END AS quality_label
    FROM t
    """,
    category="llm",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gate (length band + stopword-ratio floor) — the
    standard cheap pre-filter in training-data pipelines."""
    d = table(spark, sf_dir, "documents")
    toks = words(F.col("text"))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    swr = n_stop / F.size(toks)
    return d.select(
        "doc_id",
        "lang",
        F.round(swr, 4).alias("stopword_ratio"),
        F.round(F.size(distinct_words(F.col("text"))) / F.size(toks), 4).alias("ttr"),
        F.when(F.size(toks).between(20, 1000) & (swr > 0.02), "keep")
        .otherwise("flag")
        .alias("quality_label"),
    )


@query(
    "lang_id_heuristic",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang AS lang_true,
             string_split_regex(text, '\\s+') AS toks
      FROM documents)
    SELECT doc_id, lang_true,
           CASE WHEN len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) * 1.0
                     / len(toks) >= 0.05
                THEN 'en' ELSE 'other' END AS lang_pred
    FROM t
    """,
    category="llm",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by English-stopword density — the n-gram-free baseline
    classifier; real pipelines swap in fastText behind the same column
    contract."""
    d = table(spark, sf_dir, "documents")
    toks = words(F.col("text"))
    swr = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))) / F.size(toks)
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        F.when(swr >= 0.05, "en").otherwise("other").alias("lang_pred"),
    )


@query(
    "token_count_regex",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT)
             AS n_bpe_ish_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_number_tokens
    FROM documents
    """,
    category="llm",
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token estimator: alpha runs, digit runs, and lone symbols
    counted via one regexp pass (the usual cheap proxy for tokenizer cost)."""
    d = table(spark, sf_dir, "documents")
    pat = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).alias("n_bpe_ish_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0))).alias("n_number_tokens"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split_regex(text, '\\s+'),
                              t -> CAST(ascii(t) * 31 + LENGTH(t) AS BIGINT))),
             (acc, t) -> (acc * 131 + t) % 2147483648) AS fingerprint
    FROM documents
    """,
    category="llm",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint (see functions.text) —
    arithmetic-only so the oracle reproduces it exactly."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint(words(F.col("text"))).alias("fingerprint"))


def _posting_jaccard(posting: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard over a distinct (doc_id, sh) posting list: self-join on
    the shingle for intersections, per-doc counts for set sizes. Everything
    is plain joins/aggregates — whole-stage-codegen'd, spill-safe, no per-doc
    arrays riding through shuffles."""
    sizes = posting.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nw"))
    a, b = posting.alias("a"), posting.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("nw").alias("nw_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("nw").alias("nw_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("nw_a") + F.col("nw_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    """Exact 3-gram-shingle Jaccard over candidate pairs generated by a
    shared-shingle equi-join. Shingles, not raw words: this corpus has a
    tiny vocabulary, so word sets of unrelated docs overlap heavily while
    shared 3-gram sequences are rare — the posting join stays selective.
    Scale note: at corpus scale the blocking key must be rarer still
    (minhash bands, below); this exact variant is the verification kernel
    both paths share."""
    d = table(spark, sf_dir, "documents")
    # Materialize the distinct posting list once: it feeds three consumers
    # (per-doc sizes + both sides of the intersection self-join), and without
    # the checkpoint each consumer re-scans and re-shingles the corpus.
    # localCheckpoint keeps it on executors (memory+disk), so at scale this
    # is one corpus pass instead of three.
    posting = shingle_posting(d, n=3).distinct().localCheckpoint(eager=False)
    return _posting_jaccard(posting, threshold)


_JACCARD_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
    docs AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_transform(range(1, len(t) - 1),
                                        i -> array_to_string(t[i:i+2], ' '))
               END) AS w
      FROM toks),
    posting AS (SELECT doc_id, UNNEST(w) AS word FROM docs),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM posting a JOIN posting b ON a.word = b.word AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    sized AS (SELECT doc_id, len(w) AS nw FROM docs)
    SELECT id_a, id_b,
           ROUND(n_inter * 1.0 / (sa.nw + sb.nw - n_inter), 6) AS jaccard
    FROM inter
    JOIN sized sa ON sa.doc_id = id_a
    JOIN sized sb ON sb.doc_id = id_b
    WHERE n_inter * 1.0 / (sa.nw + sb.nw - n_inter) >= {threshold}
"""


@query(
    "ngram_jaccard_pairs",
    oracle=_JACCARD_ORACLE.format(threshold=0.6),
    category="llm",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact 3-gram-shingle Jaccard >= 0.6."""
    return _jaccard_pairs(spark, sf_dir, 0.6)


NUM_HASHES, NUM_BANDS, ROWS_PER_BAND = 64, 16, 4
_MH_COEFFS = minhash_coeffs(NUM_HASHES)


def _minhash_oracle() -> str:
    """DuckDB replica of the FULL MinHash+LSH pipeline — same portable_hash60
    base hash, same 64 affine permutations (identical embedded constants),
    same md5 band buckets — so candidate generation is deterministic and
    bit-equal across engines, and the whole operator is value-hash-checked
    (it was rows-only while the base hash was Spark-specific xxhash64)."""
    mins_cols = ",\n             ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_MH_COEFFS)
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {bnd} AS band_id, "
        + ", ".join(
            f"h{bnd * ROWS_PER_BAND + r} AS k{r}" for r in range(ROWS_PER_BAND)
        )
        + " FROM mins"
        for bnd in range(NUM_BANDS)
    )
    band_eq = " AND ".join(f"a.k{r} = b.k{r}" for r in range(ROWS_PER_BAND))
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
    docs AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_transform(range(1, len(t) - 1),
                                        i -> array_to_string(t[i:i+2], ' '))
               END) AS w
      FROM toks),
    posting AS (SELECT doc_id, UNNEST(w) AS sh FROM docs),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % {MINHASH_P} AS x
      FROM posting),
    mins AS (
      SELECT doc_id,
             {mins_cols}
      FROM hashed GROUP BY doc_id),
    bands AS (
      {band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND {band_eq}
       AND a.doc_id < b.doc_id),
    sized AS (SELECT doc_id, len(w) AS nw FROM docs),
    inter AS (
      SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM cand c
      JOIN posting p1 ON p1.doc_id = c.id_a
      JOIN posting p2 ON p2.doc_id = c.id_b AND p2.sh = p1.sh
      GROUP BY 1, 2)
    SELECT i.id_a, i.id_b,
           ROUND(n_inter * 1.0 / (sa.nw + sb.nw - n_inter), 6) AS jaccard
    FROM inter i
    JOIN sized sa ON sa.doc_id = i.id_a
    JOIN sized sb ON sb.doc_id = i.id_b
    WHERE n_inter * 1.0 / (sa.nw + sb.nw - n_inter) >= 0.6
    """


@query("minhash_lsh_pairs", oracle=_minhash_oracle(), category="llm")
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection, the 100 TB-scale path:
    shingle -> 64-hash minhash -> 16 bands -> candidate pairs via equi-join
    on (band, bucket) -> exact Jaccard verification >= 0.6.

    Vectorized formulation (r10 — one Arrow pass replaces the posting
    explode + window + 64-column hash aggregate): each Arrow batch of
    documents is shingled in Python, the base hash is portable_hash60
    (md5-prefix BIGINT, identical in DuckDB and hashlib) reduced mod
    p = 2^31-1, and all 64 affine permutations (a_i*x+b_i) mod p reduce
    per doc with ONE numpy minimum.reduceat over the (postings, 64)
    matrix — int64 arithmetic on non-negative operands, so Python/JVM
    `%` agree and the signatures are BIT-IDENTICAL to the former JVM
    aggregate (pytest pins equality). Postings now never exist as rows:
    the corpus is scanned once and the only signature-side exchange is
    the O(docs) 65-long matrix — the guide's "decide with small rows"
    shape (the former plan exchanged every (doc_id, pos, token) row for
    the shingle window; measured 1.59 s -> 0.96 s for the signature pass
    at sf0.1). Exact-Jaccard verification recomputes shingle sets only
    for candidate doc_ids (semi-join first), so the expensive per-doc
    arrays never ride through the wide shuffle.

    Candidate generation is probabilistic IN DESIGN (P[miss] ~ (1-s^4)^16)
    but deterministic GIVEN the hash family — and the family is now
    engine-portable, so the DuckDB oracle replays the identical pipeline
    (same constants, same md5 band buckets) and the driver value-hash
    checks the full output; pytest additionally checks equality with the
    exact ngram_jaccard_pairs result on the fixtures (recall evidence).

    Materialization strategy (r4 rework of the r2 "exchange reuse" design):
    profiling showed AQE does NOT reuse the posting exchange across the
    signature/verification branches — the corpus-wide shingle window was
    recomputed ~10x (once per broadcast subtree that inlined `cand`).
    Instead, the two SMALL intermediates are persisted: `mins` (the
    signature matrix — 64 longs + a count per doc, the standard LSH
    materialization; O(docs), not O(postings)) and `cand` (the candidate
    pair set, tiny by construction). The corpus is scanned and shingled
    exactly ONCE; verification re-shingles only the candidate documents
    (broadcast-semi-pruned BEFORE tokenization, so the second window runs
    over a few hundred docs, not the corpus). At 100 TB this is exactly
    the layout you'd choose: signatures persist across the band join,
    postings never do."""
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd

    d = table(spark, sf_dir, "documents")
    from db_core_spark.operators.prefixrank import parallelism_floor

    src = parallelism_floor(d.select("doc_id", "text"))

    mh_a = np.array([a for a, _ in _MH_COEFFS], dtype=np.int64)
    mh_b = np.array([b for _, b in _MH_COEFFS], dtype=np.int64)
    h_cols = [f"h{i}" for i in range(NUM_HASHES)]
    ws_re = _re.compile(r"\s+")

    def sig_batches(batches):
        md5 = hashlib.md5
        # r11 (guide §4.2): per-TASK memo of shingle -> base hash. The md5
        # + hexdigest + int parse per shingle is the kernel's dominant CPU
        # (sf1 profile: the signature stage burned ~3x more CPU-seconds at
        # 32 workers than 8 for identical output — pure per-shingle Python
        # work under contention), and near-dup corpora repeat shingles
        # heavily, so a dict hit (~0.05 us) replaces an md5 round (~1 us)
        # for every repeat. Values identical by construction; memory is
        # bounded by the task's distinct-shingle count (O(task text bytes)
        # — the same order the shingle lists themselves already cost).
        cache: dict[str, int] = {}

        def h(s: str) -> int:
            v = cache.get(s)
            if v is None:
                v = int(md5(s.encode()).hexdigest()[:15], 16) % MINHASH_P
                cache[s] = v
            return v

        for pdf in batches:
            if pdf.empty:
                continue
            doc_ids = pdf["doc_id"].to_numpy()
            xs: list[int] = []
            seg: list[int] = []
            for t in pdf["text"]:
                # identical tokenization/shingling to shingle_posting:
                # split on \s+ (Java and Python regex agree on this corpus
                # class), 3-word windows joined by one space, docs shorter
                # than 3 tokens yield no shingles (and no signature)
                toks = ws_re.split(t)
                n = len(toks)
                if n < 3:
                    seg.append(0)
                    continue
                hs = [h(" ".join(toks[i : i + 3])) for i in range(n - 2)]
                seg.append(len(hs))
                xs.extend(hs)
            if not xs:
                continue
            x = np.array(xs, dtype=np.int64)
            # (postings, 64) affine matrix; a, x < 2^31 keeps a*x+b < 2^63,
            # and all operands are non-negative, so numpy % == Spark %
            hm = (x[:, None] * mh_a[None, :] + mh_b[None, :]) % MINHASH_P
            lengths = np.array(seg)
            keep = lengths > 0
            cuts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
            mins_np = np.minimum.reduceat(hm, cuts[keep], axis=0)
            out = pd.DataFrame(mins_np, columns=h_cols)
            out.insert(0, "doc_id", doc_ids[keep])
            yield out

    sig_schema = "doc_id long, " + ", ".join(f"{c} long" for c in h_cols)
    # doc rows are unique, so each batch emits FINAL signatures — no
    # reduce-side combine needed; persist the O(docs) matrix for the two
    # sides of the band self-join below.
    mins = src.mapInPandas(sig_batches, sig_schema).persist()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                # Bucket hash need NOT be portable: a collision only MERGES
                # buckets, i.e. adds candidates, and the exact-Jaccard filter
                # removes them — output equality with the oracle (which joins
                # on the raw h-tuple) is preserved. Only the h values
                # themselves (which determine MISSED candidates) must match
                # across engines. So the fast xxhash64 stays.
                F.xxhash64(
                    *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
                ).alias("bucket"),
            )
            for b in range(NUM_BANDS)
        ]
    )
    banded = mins.select("doc_id", F.explode(band_structs).alias("band")).select(
        "doc_id", "band.band_id", "band.bucket"
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .persist()
    )
    # Exact-Jaccard verification for exactly the candidate pairs: prune the
    # DOCUMENTS (not the postings) to candidate ids first, then build each
    # candidate doc's shingle SET per row (r10: array_distinct over the
    # per-row HOF shingles — interpreted evaluation is fine on the
    # candidate-sized slice, and it removes the re-shingling window
    # exchange, the posting distinct exchange, the sizes aggregate, and
    # the (doc, shingle) posting self-join: four exchanges replaced by two
    # equi-joins carrying one shingle array per candidate doc, the same
    # bytes the posting rows exploded). The intersection is
    # array_intersect (exact set-intersection size, identical to the
    # posting join count); measured 3.29 s -> 2.36 s on the full query at
    # sf0.1, byte-identical 256 pairs.
    cand_docs = cand.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    cs = d.join(F.broadcast(cand_docs), "doc_id", "left_semi").select(
        "doc_id", F.array_distinct(shingles(F.col("text"), n=3)).alias("shs")
    )
    csa = cs.select(
        F.col("doc_id").alias("id_a"),
        F.col("shs").alias("shs_a"),
    )
    csb = cs.select(
        F.col("doc_id").alias("id_b"),
        F.col("shs").alias("shs_b"),
    )
    return (
        F.broadcast(cand)
        .join(csa, "id_a")
        .join(csb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("shs_a") + F.size("shs_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.6)
        .select("id_a", "id_b", "jaccard")
    )


_CONTAINMENT_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
    docs AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_transform(range(1, len(t) - 1),
                                        i -> array_to_string(t[i:i+2], ' '))
               END) AS w
      FROM toks),
    posting AS (SELECT doc_id, UNNEST(w) AS word FROM docs),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM posting a JOIN posting b ON a.word = b.word AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    sized AS (SELECT doc_id, len(w) AS nw FROM docs)
    SELECT id_a, id_b,
           ROUND(n_inter * 1.0 / LEAST(sa.nw, sb.nw), 6) AS containment
    FROM inter
    JOIN sized sa ON sa.doc_id = id_a
    JOIN sized sb ON sb.doc_id = id_b
    WHERE n_inter * 1.0 / LEAST(sa.nw, sb.nw) >= 0.8
"""


@query("ngram_containment_pairs", oracle=_CONTAINMENT_ORACLE, category="llm")
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT |A∩B| / min(|A|,|B|) >= 0.8.

    Jaccard misses sub-document duplication (a paragraph pasted into a
    longer page scores low on the union but ~1.0 on the smaller set);
    containment is the standard complement every corpus-dedup pipeline runs
    alongside it. Same scale shape as the Jaccard kernel: candidates from a
    shared-shingle equi-join on the distinct posting list, never all-pairs."""
    d = table(spark, sf_dir, "documents")
    # one corpus shingle pass shared by sizes + both self-join sides (same
    # materialization rationale as _jaccard_pairs)
    posting = shingle_posting(d, n=3).distinct().localCheckpoint(eager=False)
    sizes = posting.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nw"))
    a, b = posting.alias("a"), posting.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("nw").alias("nw_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("nw").alias("nw_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.round(F.col("n_inter") / F.least(F.col("nw_a"), F.col("nw_b")), 6),
        )
        .filter(F.col("containment") >= 0.8)
        .select("id_a", "id_b", "containment")
    )


# 60-bit portable SimHash fingerprint CTE chain — shared by the
# simhash_buckets and simhash_hamming_pairs oracles (mirrors
# functions/text.py simhash_portable exactly).
_SIMHASH_SQL = """
    WITH w AS (
      SELECT doc_id,
             UNNEST(list_distinct(string_split_regex(text, '\\s+'))) AS word
      FROM documents),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) AS hw
      FROM w),
    votes AS (
      SELECT doc_id, b.b,
             SUM(CASE WHEN (hw >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h, (SELECT UNNEST(range(60)) AS b) b
      GROUP BY 1, 2),
    sh AS (
      SELECT doc_id,
             -- CAST: DuckDB's SUM(BIGINT) returns HUGEINT (int128); pandas/
             -- arrow fetch paths coerce HUGEINT -> float64, which rounds
             -- values above 2^53 (289 of 500 fixture simhashes are). BIGINT
             -- survives the fetch exactly, matching Spark's int64 side.
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)
               AS BIGINT) AS simhash
      FROM votes GROUP BY 1)
"""


@query(
    "simhash_buckets",
    oracle=_SIMHASH_SQL + """
    SELECT doc_id, simhash,
           (simhash >> 0)  & 32767 AS band_0,
           (simhash >> 15) & 32767 AS band_1,
           (simhash >> 30) & 32767 AS band_2,
           (simhash >> 45) & 32767 AS band_3
    FROM sh
    """,
    category="llm",
)
def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document + 4x15-bit band keys. Near-dups collide on
    at least one band when hamming distance <= 3 (pigeonhole over 4 bands).

    The word hash is the md5-prefix BIGINT (functions/text.py
    simhash_frame), identical in Spark and DuckDB, so the ENTIRE
    fingerprint — every bit of every document — is value-hash-verified by
    the oracle (this query was rows-only while it used Spark-specific
    xxhash64). Fingerprints come from the one-pass Arrow formulation
    (r10, simhash_frame: the fingerprint is per-row computable, so one
    mapInPandas does distinct words + md5 + the vectorized 60-bit vote
    tally — the former explode -> posting shuffle -> 60-conditional-sum
    aggregate is gone, and with it the plan's only exchange); the oracle
    recomputes the identical tally relationally via unnest x range(60).
    100 TB shape: a zero-exchange map over the text scan."""
    d = table(spark, sf_dir, "documents")
    sh = simhash_frame(d)
    return sh.select(
        "doc_id",
        "simhash",
        *[
            F.shiftright(F.col("simhash"), 15 * i).bitwiseAND(F.lit(0x7FFF)).alias(f"band_{i}")
            for i in range(4)
        ],
    )


@query(
    "simhash_hamming_pairs",
    oracle=_SIMHASH_SQL + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    category="llm",
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS: documents whose 60-bit fingerprints
    differ in at most 3 bits — the cheap bit-level near-dup detector that
    complements MinHash (word-set overlap) with weighted-feature cosine
    behavior. The banded plan is EXACT, not approximate, for this
    threshold: split the fingerprint into 4 bands of 15 bits — any pair
    within hamming distance 3 leaves at least one band untouched
    (pigeonhole), so the band equi-join's candidate set provably contains
    every qualifying pair and the hamming filter removes the rest. The
    oracle is the deliberate O(n^2) all-pairs join (the geo_cell_join
    pattern: brute force as the exactness proof of the blocked plan).

    100 TB shape: fingerprints are one shuffle-free projection; candidates
    come from 4 equi-joins on 15-bit band keys (never a cross join); the
    verification is a single integer xor per candidate. Band width tunes
    the recall/cost point exactly like MinHash banding. Pair enumeration
    is inherently quadratic INSIDE an identical-fingerprint cluster
    (C(k,2) pairs is the answer's own size); the production composition
    runs dedup_exact_groups first and fingerprints only canonical docs,
    which caps k at the near-dup (not exact-dup) cluster size."""
    d = table(spark, sf_dir, "documents")
    # one fingerprint pass shared by bands + verification
    sh = simhash_frame(d).localCheckpoint(eager=False)
    banded = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftright(F.col("simhash"), 15 * i)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sim_a"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sim_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


@query(
    "dedup_cluster_components",
    oracle="""
    WITH RECURSIVE
    pairs AS ("""
    + _JACCARD_ORACLE.format(threshold=0.6)
    + """),
    bi AS (SELECT id_a AS u, id_b AS v FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (
      SELECT DISTINCT u, u FROM bi
      UNION
      SELECT bi.u, r.v FROM bi JOIN reach r ON bi.v = r.u),
    comp AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u)
    SELECT c.cluster_id, c.doc_id,
           (c.doc_id = c.cluster_id) AS is_canonical
    FROM comp c
    """,
    category="llm",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITIVE near-dup clustering: connected components over the
    Jaccard>=0.6 pair graph, canonical = min doc_id per component. Pairwise
    near-dup flags aren't enough for corpus dedup — if A~B and B~C, all
    three must land in one cluster even when A!~C; this is the closure step
    every production dedup pipeline runs between 'find pairs' and 'drop
    non-canonical'.

    Implementation (r11): shared :func:`min_label_components` operator —
    min-label propagation with POINTER DOUBLING (label <- label[label]
    each round, so rounds are O(log diameter), measured 17 -> 5 at sf0.1
    on the embedding twin) and convergence observed every K-th round (the
    count is the loop's only driver barrier). The 20-round loud-fail cap
    now covers diameters up to ~2^20 — safe at any corpus scale. At
    100 TB the same loop runs with the edge list bucketed on u."""
    from db_core_spark.operators.components import min_label_components

    pairs = _jaccard_pairs(spark, sf_dir, 0.6).select("id_a", "id_b")
    # undirected edge list, both directions
    bi = pairs.union(pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")))
    edges = bi.withColumnRenamed("id_a", "u").withColumnRenamed("id_b", "v")
    labels = min_label_components(edges, "doc_id")
    return labels.select(
        F.col("label").alias("cluster_id"),
        "doc_id",
        (F.col("doc_id") == F.col("label")).alias("is_canonical"),
    )


@query(
    "dedup_keep_best_quality",
    oracle="""
    WITH RECURSIVE
    pairs AS ("""
    + _JACCARD_ORACLE.format(threshold=0.6)
    + """),
    bi AS (SELECT id_a AS u, id_b AS v FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (
      SELECT DISTINCT u, u FROM bi
      UNION
      SELECT bi.u, r.v FROM bi JOIN reach r ON bi.v = r.u),
    comp AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
    q AS (
      SELECT doc_id,
             FLOOR(len(list_distinct(string_split_regex(text, '\\s+'))) * 1000000.0
                   / len(string_split_regex(text, '\\s+')) + 0.5) / 1000000 AS ttr
      FROM documents),
    m AS (
      SELECT c.cluster_id, c.doc_id, q.ttr,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.ttr DESC, c.doc_id) AS rn
      FROM comp c JOIN q ON q.doc_id = c.doc_id)
    SELECT cluster_id, doc_id AS best_doc_id, ttr AS best_ttr,
           CAST(n_members AS BIGINT) AS n_members
    FROM m WHERE rn = 1
    """,
    category="llm",
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each transitive near-dup cluster
    keep the HIGHEST-QUALITY member (type-token ratio, doc_id tie-break) —
    the policy production pipelines actually want (keep-min-id discards the
    cleanest copy whenever it isn't the oldest). Composes the closure
    clustering with the quality signal: one extra window over the (tiny)
    cluster assignment, corpus untouched. ttr floor-rounds to 6 dp so both
    engines order ties identically."""
    labels = dedup_cluster_components(spark, sf_dir).select("cluster_id", "doc_id")
    d = table(spark, sf_dir, "documents")
    ttr = F.floor(
        F.size(distinct_words(F.col("text"))) * 1000000.0 / F.size(words(F.col("text")))
        + 0.5
    ) / 1000000
    q = d.select("doc_id", ttr.alias("ttr"))
    from pyspark.sql import Window as W

    m = labels.join(q, "doc_id")
    wc = W.partitionBy("cluster_id")
    wr = W.partitionBy("cluster_id").orderBy(F.col("ttr").desc(), F.col("doc_id"))
    return (
        m.withColumn("n_members", F.count(F.lit(1)).over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("best_doc_id"),
            F.col("ttr").alias("best_ttr"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


@query(
    "text_redact_pii",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact: user' || CAST(doc_id AS VARCHAR)
                  || '@example.com ph 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS raw
      FROM documents WHERE doc_id <= 200)
    SELECT doc_id,
           regexp_replace(
             regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
    FROM seeded
    """,
    category="llm",
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training-corpus prep: regex redaction of emails and
    phone-shaped tokens, the standard pre-tokenization pass. Deterministic
    fake PII is seeded from doc_id (both engines concatenate the identical
    suffix) so the redaction paths are actually exercised on lorem-style
    fixture text. Patterns stay in the Java/RE2 common subset so Spark and
    DuckDB agree byte-for-byte; pure codegen, no UDF, no shuffle."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ph 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            raw, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
        ),
        r"[0-9]{3}-[0-9]{4}",
        "<PHONE>",
    )
    return d.select("doc_id", redacted.alias("redacted"))


_CMS_D, _CMS_W = 4, 1024
# Rows 64..67 of the shared LCG stream: minhash's first 64 pairs unchanged.
_CMS_COEFFS = minhash_coeffs(64 + _CMS_D)[64:]


def _cms_oracle() -> str:
    def bucket_sql(r: int) -> str:
        a, c = _CMS_COEFFS[r]
        return f"(({a} * x + {c}) % {MINHASH_P}) % {_CMS_W}"

    pair_rows = "\n      UNION ALL ".join(
        f"SELECT tok, {r} AS r, {bucket_sql(r)} AS b FROM hashed"
        for r in range(_CMS_D)
    )
    probe_rows = "\n      UNION ALL ".join(
        f"SELECT tok, true_n, {r} AS r, {bucket_sql(r)} AS b FROM probe_hashed"
        for r in range(_CMS_D)
    )
    return f"""
    WITH tf AS (
      SELECT UNNEST(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents),
    toks AS (SELECT tok FROM tf WHERE tok <> ''),
    hashed AS (
      SELECT tok,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {MINHASH_P} AS x
      FROM toks),
    pairs AS (
      {pair_rows}),
    cells AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cell_n
              FROM pairs GROUP BY r, b),
    true_counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_n
                    FROM toks GROUP BY tok),
    probe AS (SELECT tok, true_n FROM true_counts
              ORDER BY true_n DESC, tok LIMIT 30),
    probe_hashed AS (
      SELECT tok, true_n,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {MINHASH_P} AS x
      FROM probe),
    probe_pairs AS (
      {probe_rows})
    SELECT p.tok, p.true_n, MIN(c.cell_n) AS est_n
    FROM probe_pairs p JOIN cells c USING (r, b)
    GROUP BY p.tok, p.true_n
    """


@query("agg_cms_heavy_hitters", oracle=_cms_oracle(), category="llm")
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch heavy-hitter estimation over corpus tokens — the
    mergeable-counter companion of agg_hll_mergeable_sketch: D=4 hash rows
    x W=1024 buckets, built as codegen'd hash aggregates (the same
    vectorized-sketch pattern as the minhash signatures; no UDF anywhere).
    The sketch table (D*W cells) merges cell-wise-additively across
    partitions/shards/days, so corpus-frequency tracking at 100 TB is one
    partial-aggregable shuffle of 4096 cells, not a full token groupBy.
    est(token) = min_r cells[r][h_r(token) % W] — one-sided error
    (est >= true; overshoot <= e/W * N w.h.p., pinned by pytest).

    h_r is the portable affine family over portable_hash60 (same
    construction as minhash_lsh_pairs, coefficient rows 64..67 of the
    shared LCG stream), so bucket collisions are IDENTICAL in DuckDB and
    the full sketch + probe output is value-hash-checked (was rows-only
    under xxhash64); tests/test_llm_ops.py additionally pins the estimate
    bounds against exact counts."""
    WIDTH = _CMS_W
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )

    def cms_cells(frame):
        hashed = frame.withColumn(
            "x", portable_hash60(F.col("tok")) % F.lit(MINHASH_P)
        )
        return hashed.select(
            *frame.columns,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            (
                                (F.lit(a).cast("long") * F.col("x") + F.lit(c))
                                % F.lit(MINHASH_P)
                                % F.lit(WIDTH)
                            ).alias("b"),
                        )
                        for r, (a, c) in enumerate(_CMS_COEFFS)
                    ]
                )
            ).alias("cell"),
        ).select(*frame.columns, "cell.r", "cell.b")

    pairs = cms_cells(toks)
    cells = pairs.groupBy("r", "b").agg(F.count(F.lit(1)).alias("cell_n"))
    true_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_n"))
    probe = true_counts.orderBy(F.desc("true_n"), F.asc("tok")).limit(30)
    probe_cells = cms_cells(probe)
    return (
        probe_cells.join(F.broadcast(cells), ["r", "b"])
        .groupBy("tok", "true_n")
        .agg(F.min("cell_n").alias("est_n"))
        .orderBy(F.desc("true_n"), F.asc("tok"))
    )


@query(
    "pack_training_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
      FROM documents),
    packed AS (
      SELECT doc_id, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_tokens) / 2048) AS BIGINT) AS bin_id
      FROM toks)
    SELECT bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_used,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM packed
    GROUP BY bin_id
    """,
    category="llm",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-chunk allocation): documents in
    stable corpus order are laid head-to-tail and cut into 2048-token bins —
    bin_id = floor(tokens_before / capacity). This is the allocation MAP of
    the packing step every pretraining pipeline runs (the actual token-level
    splitting of boundary documents is the chunk step,
    `udtf_chunk_documents`); emitting (bin, docs, utilization) makes packing
    efficiency auditable before any tokens move. The registered plan is the
    distributed two-pass prefix sum (:func:`pack_training_sequences_scalable`):
    per-partition token totals broadcast as offsets, then each partition bins
    locally in parallel — same arithmetic as a global running-sum window
    (bin-exact parity pytested at 1/3/8 partitions against
    :func:`pack_training_sequences_global_window`) with no single-partition
    stage anywhere."""
    return pack_training_sequences_scalable(spark, sf_dir)


def pack_training_sequences_global_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-global-window formulation — the parity REFERENCE for
    :func:`pack_training_sequences_scalable`, not registered: the
    unpartitioned running sum moves every row through one partition, the
    exact scale hazard SURVEY §7.3 flags."""
    d = table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    n_tok = F.size(F.split(F.col("text"), r"\s+")).cast("long")
    toks = d.select("doc_id", n_tok.alias("n_tokens"))
    w = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    packed = toks.withColumn(
        "bin_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048).cast("long"),
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_used"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def pack_training_sequences_scalable(
    spark: SparkSession, sf_dir: str, capacity: int = 2048, num_parts: int | None = None
) -> DataFrame:
    """The 100 TB formulation of :func:`pack_training_sequences`: a
    distributed two-pass prefix sum instead of the single global window
    (which moves ALL rows to one partition).

    Delegates to the shared audited helper
    :func:`db_core_spark.operators.prefixrank.global_running_sum`, whose
    localCheckpoint staging pins ONE materialization for both passes —
    without it the (sampled) range partitioner could assign a boundary row
    to different partitions in the offsets job vs the final job, corrupting
    every bin after the disagreement. Identical arithmetic to the global
    window — pytest asserts equality — with no single-partition stage
    anywhere."""
    from db_core_spark.operators.prefixrank import global_running_sum

    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), r"\s+")).cast("long")
    toks = d.select("doc_id", n_tok.alias("n_tokens"))
    summed = global_running_sum(
        toks, [F.col("doc_id")], "n_tokens", num_parts=num_parts, out="cum_tokens"
    )
    packed = summed.withColumn(
        "bin_id",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / capacity).cast("long"),
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_used"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "dedup_incremental_batch",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id <= 400),
    incoming AS (
      SELECT doc_id, source, sha256(text) AS h
      FROM documents WHERE doc_id > 400
      UNION ALL
      SELECT doc_id + 10000, source, sha256(text)
      FROM documents WHERE doc_id <= 400 AND doc_id % 40 = 0
      UNION ALL
      SELECT doc_id + 20000, source, sha256(text)
      FROM documents WHERE doc_id > 400 AND doc_id % 30 = 0),
    fresh AS (
      SELECT i.* FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = i.h)),
    kept AS (
      SELECT doc_id, source, h,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM fresh)
    SELECT doc_id, source FROM kept WHERE rn = 1
    """,
    category="llm",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the daily-crawl shape: an incoming batch
    is deduplicated (1) AGAINST the already-ingested corpus by content
    hash (anti join: reposts of known documents are dropped without
    touching their text) and (2) WITHIN itself (keep the smallest id per
    hash). Duplicates are seeded in-query (corpus reposts under +10000,
    intra-batch dups under +20000) since the fixture corpus is
    dup-free — same convention as multimodal_phash_dedup.

    Scale shape: both sides reduce to 32-byte digests before any join;
    the anti join hashes on the digest (at 100 TB: bucket the corpus
    hash index by digest so daily batches anti-join shuffle-free, or
    pre-filter with the Bloom pattern of join_bloom_prefilter — the
    batch, not the corpus, is the small side); the within-batch keep-min
    is a window over the just-deduplicated batch only."""
    d = table(spark, sf_dir, "documents")
    h = F.sha2(F.col("text"), 256)
    corpus = d.filter(F.col("doc_id") <= 400).select(h.alias("h"))
    incoming = (
        d.filter(F.col("doc_id") > 400)
        .select("doc_id", "source", h.alias("h"))
        .unionByName(
            d.filter((F.col("doc_id") <= 400) & (F.col("doc_id") % 40 == 0)).select(
                (F.col("doc_id") + 10000).alias("doc_id"), "source", h.alias("h")
            )
        )
        .unionByName(
            d.filter((F.col("doc_id") > 400) & (F.col("doc_id") % 30 == 0)).select(
                (F.col("doc_id") + 20000).alias("doc_id"), "source", h.alias("h")
            )
        )
    )
    fresh = incoming.join(corpus, "h", "left_anti")
    from pyspark.sql import Window as W

    w = W.partitionBy("h").orderBy("doc_id")
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source")
    )


@query(
    "langid_confusion_matrix",
    oracle=f"""
    WITH pred AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS lang_true,
             CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                       x -> list_contains({_STOP_SQL}, x))) * 1.0
                       / len(string_split_regex(text, '\\s+')) >= 0.05
                  THEN 'en' ELSE 'other' END AS lang_pred
      FROM documents),
    cells AS (
      SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2),
    tot AS (SELECT SUM(n) AS total,
                   SUM(CASE WHEN lang_true = lang_pred THEN n ELSE 0 END) AS agree
            FROM cells)
    SELECT c.lang_true, c.lang_pred, c.n,
           ROUND(c.n * 1.0 / t.total, 6) AS frac,
           ROUND(t.agree * 1.0 / t.total, 6) AS overall_accuracy
    FROM cells c, tot t
    """,
    category="llm",
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as an operator: the confusion matrix of the
    stopword-density language classifier against the labeled lang column
    (binarized en/other to match the classifier's output space), with
    per-cell fractions and overall accuracy on every row — the quality
    gate a pipeline runs before trusting any model-derived filter at
    corpus scale. One prediction pass, one tiny cells aggregate, a 1-row
    totals broadcast; evaluating a swapped-in fastText model reuses the
    identical frame."""
    d = table(spark, sf_dir, "documents")
    toks = words(F.col("text"))
    swr = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))) / F.size(toks)
    pred = d.select(
        F.when(F.col("lang") == "en", "en").otherwise("other").alias("lang_true"),
        F.when(swr >= 0.05, "en").otherwise("other").alias("lang_pred"),
    )
    cells = pred.groupBy("lang_true", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(
        F.sum("n").alias("total"),
        F.sum(F.when(F.col("lang_true") == F.col("lang_pred"), F.col("n")).otherwise(0)).alias(
            "agree"
        ),
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "lang_true",
        "lang_pred",
        "n",
        F.round(F.col("n") * 1.0 / F.col("total"), 6).alias("frac"),
        F.round(F.col("agree") * 1.0 / F.col("total"), 6).alias("overall_accuracy"),
    )


@query(
    "dedup_url_canonical",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             doc_id // 3 AS base_id,
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN 'https://src' || CAST((doc_id // 3) % 20 AS VARCHAR)
                 || '.example.com/docs/' || CAST(doc_id // 3 AS VARCHAR)
               WHEN 1 THEN 'HTTPS://SRC' || CAST((doc_id // 3) % 20 AS VARCHAR)
                 || '.EXAMPLE.COM/docs/' || CAST(doc_id // 3 AS VARCHAR) || '/'
               ELSE 'https://src' || CAST((doc_id // 3) % 20 AS VARCHAR)
                 || '.example.com/docs/' || CAST(doc_id // 3 AS VARCHAR)
                 || '?utm_source=feed&utm_campaign=x#frag'
             END AS url
      FROM documents),
    canon AS (
      SELECT doc_id, url,
             lower(regexp_replace(regexp_replace(regexp_replace(url,
                 '#.*$', ''), '\\?utm_[^#]*', ''), '/$', '')) AS curl
      FROM urls)
    SELECT curl AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc
    FROM canon
    GROUP BY curl
    HAVING COUNT(*) > 1
    """,
    category="llm",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-frontier collapse every web
    pipeline runs before fetching or keeping a page twice: strip the
    fragment, strip utm_* tracking params, strip the trailing slash,
    case-fold (safe here because paths are constructed case-insensitive),
    then keep one document per canonical URL. Fixture docs carry no URLs,
    so deterministic variant triplets (clean / SHOUTED+slash / tracking
    params) are seeded from doc_id — the same seeding convention as
    scalar_url_parse — and the operator must collapse exactly those
    triplets.

    100 TB shape: canonicalization is row-local regex codegen; the dedup
    is one hash aggregate keyed on the canonical string (at larger scale,
    key on md5(curl) exactly like dedup_segments_global)."""
    d = table(spark, sf_dir, "documents")
    base = (F.col("doc_id") / 3).cast("long")
    host = F.concat(
        F.lit("src"), (base % 20).cast("string"), F.lit(".example.com/docs/")
    )
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("https://"), host, base.cast("string")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("HTTPS://SRC"), (base % 20).cast("string"),
                F.lit(".EXAMPLE.COM/docs/"), base.cast("string"), F.lit("/"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), host, base.cast("string"),
                F.lit("?utm_source=feed&utm_campaign=x#frag"),
            )
        )
    )
    curl = F.lower(
        F.regexp_replace(
            F.regexp_replace(F.regexp_replace(url, "#.*$", ""), r"\?utm_[^#]*", ""),
            "/$",
            "",
        )
    )
    return (
        d.select("doc_id", curl.alias("curl"))
        .groupBy(F.col("curl").alias("canonical_url"))
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keep_doc"),
        )
        .filter(F.col("n_variants") > 1)
    )


@query(
    "dedup_cross_source_overlap",
    oracle="""
    WITH digests AS (
      SELECT source,
             md5(array_to_string(
                 (string_split_regex(text, '\\s+'))[1:10], ' ')) AS dg
      FROM documents),
    pairs AS (
      SELECT DISTINCT a.source AS src_a, b.source AS src_b, a.dg
      FROM digests a JOIN digests b
        ON a.dg = b.dg AND a.source < b.source)
    SELECT src_a, src_b,
           CAST(COUNT(DISTINCT dg) AS BIGINT) AS n_shared_docs
    FROM pairs
    GROUP BY src_a, src_b
    """,
    category="llm",
)
def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how many
    shared leading-10-word digests BOTH carry — the mirror-feed report
    that decides which crawl sources deserve independent quota (feeding
    source_mix_rebalance / corpus_mix_temperature with dedup-aware
    weights). Prefix digests catch the syndication pattern (same lede,
    diverging bodies) that full-text digests miss — the fixture's exact
    dups never cross sources, its shared ledes do. Only 16-byte digests
    ride the join; the matrix is |sources|² at most."""
    d = table(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"), 1, 10))
    dg = d.select("source", F.md5(prefix).alias("dg"))
    a = dg.select(F.col("source").alias("src_a"), "dg")
    b = dg.select(F.col("source").alias("src_b"), F.col("dg").alias("dg2"))
    return (
        a.join(b, (F.col("dg") == F.col("dg2")) & (F.col("src_a") < F.col("src_b")))
        .select("src_a", "src_b", "dg")
        .distinct()
        .groupBy("src_a", "src_b")
        .agg(F.countDistinct("dg").alias("n_shared_docs"))
    )
