"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Spark-first shapes (all shuffle-lean by construction):

- exact: groupBy(md5(text)) — one narrow shuffle of (hash, id).
- MinHash+LSH: signatures are per-row array math (no shuffle); band
  buckets are exploded (b rows per doc, b small) and grouped — the
  shuffle carries (band_hash, doc_id), never text. Candidate pairs
  come from a self-join *within buckets only*: O(Σ bucket²), not
  O(n²). This is the 100 TB near-dup path.
- SimHash: per-row 16-bit sketch (text.py), grouped by sketch value.
- Jaccard: exact verification on candidate pairs (array_intersect /
  array_union on distinct shingle sets) — the "verify" stage after
  LSH "find".

Hashes are md5-based (text.u32) so the DuckDB oracle reproduces every
value exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dx.pipelines.text import tokens, word_shingles


# Universal-hash permutation constants for MinHash: deterministic
# md5-derived literals, hardcoded identically in the DuckDB oracles
# (dx/queries_td.py). a_i < P and h < 2^32 keep a*h + b < 2^63 —
# overflow-free in both engines' int64.
MH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
MH_AB = [
    (1250150343, 10069388), (900231574, 1260435945),
    (1294180885, 786266819), (781571296, 1161115865),
    (1617287443, 146054044), (1349824861, 669593129),
    (612791779, 1610176249), (2084106643, 20107235),
]


def minhash_signatures_df(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 8,
                          shingle_n: int = 3) -> DataFrame:
    """Signatures via explode → hash-aggregate: ONE md5 per shingle
    (u32 slice), then k universal-hash permutations
    ``min((a_i * h + b_i) % P)`` in pure int64 arithmetic.

    This is the scale shape twice over. (1) Explode-aggregate beats
    the nested higher-order-array form: array transforms evaluate
    interpreted (outside codegen) and embed the whole signature tree
    into every consumer expression — measured 40 ms/doc vs ~0.5 ms/doc
    exploded, and at 10^10 docs the only shuffle is the per-doc
    partial-combined min rows. (2) One md5 per shingle beats md5 per
    (shingle, i): the hash stage is the linear-CPU term that dominates
    once scan/shuffle overhead amortizes — 8× fewer md5 calls; the
    same-session A/B at sf0.1 (no BENCH/ record; script
    ``ab_minhash.py`` in ``tools/`` at commit 456b0d4, the last that
    has it) measured wall 3.12s → 2.63s with the fixed scan/shuffle
    overhead still attached (the md5 delta alone is ~0.49s of a
    ~0.56s hash stage).
    Docs with fewer than ``shingle_n`` tokens have no shingles and drop
    out (our corpus guarantees ≥ shingle_n tokens per doc).

    Output: id_col, mh0..mh{k-1} (int64 in [0, P)).
    """
    if k > len(MH_AB):
        raise ValueError(f"k={k} exceeds {len(MH_AB)} permutation constants")
    sh = word_shingles(F.col(text_col), shingle_n)
    ex = df.select(F.col(id_col), F.explode(sh).alias("__sh")).select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("__sh")), 1, 8), 16, 10)
        .cast("long").alias("__h"),
    )
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MH_AB[:k])
    ]
    return ex.groupBy(id_col).agg(*aggs)


def exact_clusters(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-dup clusters by content hash; keeper = min id."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keeper"),
        )
    )


def lsh_buckets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                k: int = 8, bands: int = 4, rows: int = 2) -> DataFrame:
    """Explode per-doc band hashes into (band_idx, band_hash) buckets."""
    sig = minhash_signatures_df(df, text_col, id_col, k=k)
    bh = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"mh{j * rows + r}").cast("string")
                      for r in range(rows)],
                )
            )
            for j in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.posexplode(bh).alias("band_idx", "band_hash"))


def lsh_bucket_stats(df: DataFrame, **kw) -> DataFrame:
    """Bucket occupancy: the LSH join key distribution (skew signal)."""
    return (
        lsh_buckets(df, **kw)
        .groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc"))
    )


def candidate_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    max_bucket_size: int | None = None, **kw) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any LSH band bucket.

    ``max_bucket_size`` (OPT-IN, default ``None`` = no cap so default
    output stays faithful to an uncapped oracle) caps the within-bucket
    self-join: a degenerate
    bucket (boilerplate cluster — every near-identical license header
    lands in one band hash) would otherwise make the join quadratic in
    that bucket's size and serialize one reducer at 100 TB. Buckets
    above the cap are DROPPED from pair generation (their members are
    exact-dup-shaped anyway — route them to exact_clusters, which is
    linear); use :func:`oversize_buckets` to count/log what was
    skipped, so the cap is never a silent coverage hole. ``None``
    disables the cap.
    """
    b = lsh_buckets(df, text_col, id_col, **kw)
    if max_bucket_size is not None:
        ok = (
            b.groupBy("band_idx", "band_hash")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= max_bucket_size)
            .drop("__n")
        )
        b = b.join(ok, ["band_idx", "band_hash"], "left_semi")
    a = b.alias("a")
    c = b.alias("b")
    return (
        a.join(
            c,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def oversize_buckets(df: DataFrame, max_bucket_size: int,
                     text_col: str = "text", id_col: str = "doc_id",
                     **kw) -> DataFrame:
    """The buckets candidate_pairs would skip at the given cap — the
    monitoring/logging side of the cap (band_idx, band_hash, n_docs)."""
    return (
        lsh_buckets(df, text_col, id_col, **kw)
        .groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_size)
    )


def shingle_sets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 shingle_n: int = 2) -> DataFrame:
    """(id, distinct word-n-gram set) — the exact-Jaccard feature frame."""
    return df.select(
        F.col(id_col),
        F.array_distinct(word_shingles(F.col(text_col), shingle_n)).alias("sh"),
    )


def jaccard_pairs(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_n: int = 2,
                  materialize: bool = True) -> DataFrame:
    """Exact n-gram Jaccard for given (doc_a, doc_b) pairs.

    Scale shape (VERDICT r1): only docs that appear in a pair are
    shingled (semi-join first — the candidate set after LSH is a tiny
    fraction of the corpus), and with ``materialize=True`` the shingle
    sets are computed ONCE and cached for the two pair-side joins
    instead of re-shingling every doc per side. The cached frame is
    (id, shingle array) — a computed feature, small relative to the
    corpus; at full 100 TB scale, write it to a temp parquet instead
    and let both joins scan that (the caller owns that materialization
    choice; ``materialize=False`` keeps the plan pure).
    """
    ids = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    docs = df.join(ids, id_col, "left_semi")
    sets_df = shingle_sets(docs, text_col, id_col, shingle_n)
    if materialize:
        sets_df = sets_df.persist()
    out = (
        pairs.join(sets_df.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sets_df.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return out.select(
        "doc_a",
        "doc_b",
        inter.cast("long").alias("inter_n"),
        union.cast("long").alias("union_n"),
        F.floor(inter * 10000 / union).cast("long").alias("jaccard_bps"),
    )
