"""Text kernels for the LLM-data-pipeline operators: tokenization, shingles,
minhash signatures, simhash, rolling-hash fingerprints.

Everything is a Column expression built from pyspark.sql.functions higher-order
functions (transform/aggregate/filter) — JVM-side, whole-stage-codegen'd, no
Python UDFs. Deterministic across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Tiny English stopword list used by the language-ID heuristic and the
# quality score. Kept deliberately small + explicit so the DuckDB oracle can
# repeat it verbatim.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


def words(text: Column) -> Column:
    """Whitespace tokenization (fixture docs are space-separated words)."""
    return F.split(text, r"\s+")


def distinct_words(text: Column) -> Column:
    return F.array_distinct(words(text))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array column: contiguous n-word windows
    joined with a space. Array higher-order functions are interpreted (not
    whole-stage-codegen'd) — fine for per-doc use, but for corpus-scale
    shingling prefer `shingle_posting` (codegen + one bounded shuffle)."""
    toks = words(text)
    return F.when(
        F.size(toks) < n, F.array(F.array_join(toks, " "))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


def shingle_posting(df, n: int = 3, id_col: str = "doc_id", text_col: str = "text"):
    """(id, shingle) posting rows via posexplode + window lead — every
    operator whole-stage-codegen'd (split/explode/lead/concat are plain
    expressions, unlike the interpreted array HOFs; measured ~5x faster at
    corpus scale). One shuffle on id (the token window), which downstream
    per-doc aggregations reuse. Documents with fewer than n tokens yield no
    rows — callers on this fixture are safe (min 10 tokens/doc)."""
    from pyspark.sql import Window as W

    toks = df.select(
        id_col, F.posexplode(F.split(F.col(text_col), r"\s+")).alias("pos", "tok")
    )
    w = W.partitionBy(id_col).orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    return (
        toks.select(id_col, F.concat_ws(" ", *leads).alias("sh"), leads[-1].alias("_last"))
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )


def _minhash_one(items: Column, seed: int) -> Column:
    # NB: seed must be captured by closure, not a lambda default arg —
    # PySpark counts lambda parameters and a 2-arg transform lambda receives
    # (element, index), silently replacing the seed.
    return F.array_min(F.transform(items, lambda it: F.xxhash64(it, F.lit(seed))))


def minhash_signature(items: Column, num_hashes: int = 64) -> Column:
    """MinHash signature: for seed i, min over items of xxhash64(item, i).
    xxhash64 is Spark's 64-bit xxHash (deterministic, seedable via the extra
    column) — one JVM expression per hash, no UDF. O(|items| * k) per row."""
    return F.array(*[_minhash_one(items, i) for i in range(num_hashes)])


def portable_hash60(col: Column) -> Column:
    """60-bit md5-prefix hash: the first 15 hex chars of md5 as a
    non-negative BIGINT. Bit-identical in Spark
    (``conv(substring(md5(x),1,15),16,10)``) and DuckDB
    (``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``), so every operator built
    on it is fully value-hash oracle-checkable — unlike xxhash64, which only
    Spark implements. Shared base hash for simhash_portable and the
    portable minhash family."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime): (a*x+b) stays < 2^62


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the universal affine family
    h_i(x) = (a_i * (x mod p) + b_i) mod p over p = 2^31-1 — the textbook
    MinHash permutation construction. Constants come from a fixed-seed LCG
    so the Spark plan and the SQL oracle embed IDENTICAL literals; a_i is
    never 0. Products fit signed 64-bit in both engines (DuckDB raises on
    BIGINT overflow, so staying < 2^62 is load-bearing, not cosmetic)."""
    coeffs = []
    s = 0x2545F4914F6CDD1D
    for _ in range(num_hashes):
        s = (6364136223846793005 * s + 1442695040888963407) % (1 << 63)
        a = s % (MINHASH_P - 1) + 1
        s = (6364136223846793005 * s + 1442695040888963407) % (1 << 63)
        b = s % MINHASH_P
        coeffs.append((a, b))
    return coeffs


def simhash_frame(df, id_col: str = "doc_id", text_col: str = "text",
                  bits: int = 60):
    """(id, simhash) frame: engine-portable SimHash over ``bits`` low bits
    of the portable_hash60 word hash (oracle-checkable in DuckDB, unlike
    xxhash64), computed in ONE Arrow pass (r10, the minhash-signature
    lesson): the fingerprint is per-ROW computable — distinct words, md5
    per word, a (words x bits) +/-1 vote tally, sign-assembled — so a
    single mapInPandas over the text scan replaces the former explode ->
    posting shuffle -> 60-conditional-sum aggregate. The posting rows
    never exist: NO exchange at all (the former plan shipped a
    docs x 61-column partial-agg shuffle and, on a small corpus, ran the
    whole explode+hash+tally on the scan's ONE input split). Bit-identical
    to the aggregate formulation — same \\s+ tokenization, same md5-prefix
    hash, same integer vote arithmetic (pinned by
    tests/test_llm_ops.py::test_simhash_arrow_pass_matches_agg_formulation);
    the DuckDB oracle's unnest x range(bits) tally is unchanged.

    NULL text rows vanish from the output, matching the aggregate
    formulation (explode of split(NULL) drops the row).

    PRECONDITION (ADVICE r10): ``id_col`` must be unique per row. The
    retired groupBy formulation combined duplicate-id rows into one
    fingerprint by pooling their word votes; the per-row Arrow kernel
    emits one fingerprint per input row, so duplicate ids would yield
    duplicate output rows with different fingerprints. Every repo
    consumer feeds a primary key (doc_id); pre-aggregate texts per id
    before calling if yours does not."""
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd

    from db_core_spark.operators.prefixrank import parallelism_floor

    src = parallelism_floor(df.select(id_col, text_col))

    id_type = df.schema[id_col].dataType.simpleString()
    ws_re = _re.compile(r"\s+")
    shifts = np.arange(bits, dtype=np.int64)

    def simhash_batches(batches):
        md5 = hashlib.md5
        # r11 (guide §4.2): per-task memo of word -> hash — the corpus
        # vocabulary is tiny relative to (doc, word) pairs, so nearly
        # every md5 after the first few docs is a repeat; a dict hit
        # replaces the md5+hexdigest+int round. Values identical.
        cache: dict[str, int] = {}

        def wh(w: str) -> int:
            v = cache.get(w)
            if v is None:
                v = int(md5(w.encode()).hexdigest()[:15], 16)
                cache[w] = v
            return v

        for pdf in batches:
            if pdf.empty:
                continue
            out_ids, out_fps = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                # identical tokenization to the aggregate formulation:
                # split on \s+, distinct words (order-free: votes are sums)
                ws = set(ws_re.split(t))
                hs = np.fromiter(
                    (wh(w) for w in ws),
                    dtype=np.int64,
                    count=len(ws),
                )
                # (words, bits) 0/1 matrix -> +/-1 votes -> sign bits;
                # all-integer arithmetic, exact (hash < 2^60, fp < 2^60)
                votes = (2 * ((hs[:, None] >> shifts[None, :]) & 1) - 1).sum(axis=0)
                out_ids.append(i)
                out_fps.append(int(((votes > 0).astype(np.int64) << shifts).sum()))
            if out_ids:
                yield pd.DataFrame({id_col: out_ids, "simhash": out_fps})

    return src.mapInPandas(simhash_batches, f"{id_col} {id_type}, simhash long")


def rolling_fingerprint(items: Column) -> Column:
    """Order-sensitive rolling-hash document fingerprint:
    acc = (acc * 131 + (ascii(first_char) * 31 + length(tok))) mod 2^31.
    Uses only arithmetic both Spark and DuckDB implement identically on
    BIGINT, so it is oracle-checkable (unlike xxhash64)."""
    tok_val = lambda t: (F.ascii(t) * 31 + F.length(t)).cast("long")  # noqa: E731
    return F.aggregate(
        items,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 131 + tok_val(t)) % F.lit(2147483648).cast("long"),
    )


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are known-English stopwords."""
    toks = words(text)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return n_stop.cast("double") / F.size(toks).cast("double")
