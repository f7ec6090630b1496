"""Deduplication operators over a documents table (doc_id, text).

First-class training-data-pipeline operators (no reference analog — the
reference is a pure graph engine; these are the dedup family a 100 TB text
pipeline needs). All hash math uses the cross-engine md5_int63 primitive so
every operator has an exact DuckDB SQL oracle.

Scale notes:
- exact dedup: one hash-groupBy — embarrassingly parallel.
- minhash/LSH: explode to (doc, shingle) rows [O(total tokens)], per-seed
  min-agg [map-side partial], band self-join [shuffle on small band keys;
  bucket sizes bounded by band width]. No O(n^2) stage.
- n-gram Jaccard: exact pairwise — the shingle join can blow up on common
  shingles at scale; it is the *verifier* for minhash, meant for sampled /
  bucketed use. The LSH path is the 100 TB path.
- simhash: explode + 16 conditional sums — one aggregation pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int63, seeded_md5_int63


def text_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint) — md5 of the normalized (lower/trim) text.
    The 'document fingerprinting' face of exact dedup."""
    return docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col(text_col))).cast("binary")).alias("fingerprint")
    )


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(fingerprint, dup_count) for groups with >1 identical document."""
    return (
        text_fingerprint(docs, text_col)
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def exact_dedup_keep_min(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id) survivors — the smallest doc_id per identical-text group."""
    return (
        text_fingerprint(docs, text_col)
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def word_shingles(docs: DataFrame, k: int = 5, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) — distinct k-token shingles (space-joined).

    Documents shorter than k tokens contribute their full text as the single
    shingle (so every doc has >=1 shingle).
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    shingles = F.when(
        n <= k, F.array(F.col(text_col))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )
    )
    return (
        docs.select("doc_id", F.explode(shingles).alias("shingle")).distinct()
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 4, k: int = 5, text_col: str = "text"
) -> DataFrame:
    """(doc_id, h0..h{num_hashes-1}) — per-seed min of seeded md5_int63 over
    the doc's shingle set. Classic MinHash: P(h_a == h_b) ≈ Jaccard(a,b)."""
    sh = word_shingles(docs, k, text_col)
    hashed = sh.select(
        "doc_id",
        *[seeded_md5_int63(F.col("shingle"), s).alias(f"_h{s}") for s in range(num_hashes)],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"_h{s}").alias(f"h{s}") for s in range(num_hashes)]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 4,
    band_size: int = 2,
    k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs: docs agreeing on at least one
    LSH band (band = band_size consecutive minhash values). doc_a < doc_b."""
    assert num_hashes % band_size == 0
    sigs = minhash_signatures(docs, num_hashes, k, text_col)
    num_bands = num_hashes // band_size
    bands = []
    for b in range(num_bands):
        cols = [F.col(f"h{b * band_size + i}") for i in range(band_size)]
        bands.append(
            sigs.select(
                "doc_id",
                F.lit(b).alias("band"),
                F.concat_ws("_", *[c.cast("string") for c in cols]).alias("bucket"),
            )
        )
    banded = bands[0]
    for b in bands[1:]:
        banded = banded.unionAll(b)
    left = banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    right = banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 5, threshold: float = 0.6, text_col: str = "text"
) -> DataFrame:
    """(doc_a, doc_b, jaccard) — exact k-shingle Jaccard >= threshold.

    Exact verifier for the LSH path; the shingle equi-join is the scale
    bottleneck (see module docstring)."""
    sh = word_shingles(docs, k, text_col).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_fingerprints(
    docs: DataFrame, bits: int = 16, text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash) — SimHash over tokens with multiplicity: bit i of
    the fingerprint is 1 iff sum over tokens of (2*bit_i(hash(token))-1) > 0."""
    tok = docs.select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("t"))
    h = tok.select("doc_id", md5_int63(F.col("t")).alias("h"))
    sums = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(bits)
        ]
    )
    fp = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_near_pairs(docs: DataFrame, bits: int = 16, max_hamming: int = 2,
                       text_col: str = "text") -> DataFrame:
    """(doc_a, doc_b, hamming) pairs within Hamming distance — bit-band
    blocked, same trick as minhash_lsh_pairs, and EXACT: the fingerprint is
    split into max_hamming+1 disjoint bit bands, and by pigeonhole any pair
    within `max_hamming` flipped bits agrees exactly on at least one band.
    Candidates come from per-band equi-joins (bucket sizes bounded by band
    width; no O(n^2) stage), then the true Hamming distance filters them.
    Output equals the all-pairs formulation row-for-row."""
    num_bands = max_hamming + 1
    fps = simhash_fingerprints(docs, bits, text_col)
    base, rem = divmod(bits, num_bands)
    bands = []
    lo = 0
    for b in range(num_bands):
        width = base + (1 if b < rem else 0)
        key = F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit((1 << width) - 1))
        bands.append(
            fps.select(
                "doc_id", "simhash", F.lit(b).alias("band"), key.alias("bucket")
            )
        )
        lo += width
    banded = bands[0]
    for b in bands[1:]:
        banded = banded.unionAll(b)
    left = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fa"), "band", "bucket"
    )
    right = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fb"), "band", "bucket"
    )
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def near_dup_clusters(
    docs: DataFrame,
    num_hashes: int = 4,
    band_size: int = 2,
    k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Fuzzy-dedup clustering — the composition a 100 TB dedup pipeline
    actually runs: MinHash-LSH candidate pairs treated as an undirected
    graph, connected components over it (run_wcc: labels = min doc_id per
    cluster, the canonical representative), every unpaired doc a singleton.
    Pairs alone don't dedup — transitive closure does (A~B, B~C must land
    A, B, C in one cluster even when A and C share no band).

    Output: (doc_id, cluster, is_canonical). Keep `is_canonical` rows for
    the deduped corpus. Scale shape: the pair graph is tiny relative to the
    corpus (only near-dup docs appear), so the WCC runs on a vanishing
    fraction of rows; the final join back is V-row, broadcast-able when the
    pair graph is small.
    """
    from ..plans.wcc import run_wcc

    pairs = minhash_lsh_pairs(docs, num_hashes, band_size, k, text_col)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels = run_wcc(edges).state
    clustered = labels.select(
        F.col("vid").alias("doc_id"), F.col("value").alias("cluster")
    )
    out = (
        docs.select("doc_id")
        .join(clustered, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster", F.col("doc_id")).alias("cluster"),
        )
        .withColumn("is_canonical", F.col("cluster") == F.col("doc_id"))
    )
    # labels stays persisted (it is a lineage-truncated checkpoint backing
    # `out`'s plan — unpersisting it here would make `out` unrecomputable);
    # it is V_paired-row small and freed with the session/clear_storage
    return out
